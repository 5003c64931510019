package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.queries.TextQueries
import graft.util.Artifacts

/** The harness memo's key and fixture-stamp contract. Eviction of a
  * stopped session is not exercised here: stopping the shared test
  * session would break every later suite in the JVM. */
class ArtifactsSpec extends SparkSpec {

  private def tempFixture(tables: String*): String = {
    val dir = Paths.get(graft.util.Fs.tempDirDeletedOnExit("graft-artifacts-spec"))
    tables.foreach { t =>
      Files.copy(Paths.get(sf001, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  test("a changed fixture file fails the next load loudly, never serves the stale table") {
    val dir = tempFixture("region", "nation")
    assert(Tables.region(spark, dir).count() === 5L)
    // replace region.parquet with another table's bytes
    Files.copy(Paths.get(sf001, "nation.parquet"), Paths.get(dir, "region.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[IllegalStateException](Tables.region(spark, dir))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("table/region"),
      e.getMessage)
  }

  test("a nested build builds each artifact once") {
    val dir = tempFixture("region")
    var builds = Map.empty[String, Int].withDefaultValue(0)
    def built(name: String): Unit = builds += name -> (builds(name) + 1)
    // the edges2For → indexFor shape: a persisted artifact derived from
    // another memoized build, which later callers also read directly
    def index(): Long = Artifacts(spark, dir, "index") {
      built("index"); Tables.region(spark, dir).count()
    }
    def edges2() = Artifacts.parquet(spark, dir, "edges2") {
      built("edges2")
      import spark.implicits._
      Seq(index()).toDF("n")
    }
    assert(edges2().head().getLong(0) === 5L)
    assert(edges2().head().getLong(0) === 5L)
    assert(index() === 5L)
    assert(builds === Map("index" -> 1, "edges2" -> 1))
  }

  test("a memo entry is per session: t29's merges follow the calling session") {
    val first = TextQueries.queries("t29_bpe_train")(spark, sf001)
    val other = spark.newSession()
    val second = TextQueries.queries("t29_bpe_train")(other, sf001)
    assert(first.sparkSession eq spark)
    assert(second.sparkSession eq other)
    assert(second.collect().toSeq === first.collect().toSeq)
  }
}
