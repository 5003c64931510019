package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{CorpusStore, VectorStore}
import graft.operators.{AdaptiveSearch, IndexParams}

/** A workload: how to set a store up from generated inputs and what one
  * closed-loop cycle of facade calls does. `cycle` returns false once a
  * call threw or failed its check; the run then stops. */
trait Workload {
  /** Builds a fresh store under `dir`; returns each set-up phase with its
    * seconds, in order. */
  def setup(dir: String): Seq[(String, Double)]
  def cycle(h: Harness): Boolean
  /** Cycles run, checked but not measured, before the window. */
  def warmCycles: Int
  /** Cycles the window holds at least, however short `--seconds` is. It
    * is set so that every run's window holds the same number of cycles:
    * calls still speed up over a run, so a median over more or fewer of
    * them would move with the host's speed, not the program's. */
  def minCycles: Int
  /** Per-layer counters the workload keeps itself (dispatch decisions,
    * store bytes written per user byte, recall). */
  def counters: Map[String, Double]
}

object Workload {
  val Dim = 64
  val QueryBatch = 64

  def apply(name: String, spark: SparkSession, seed: Long, cores: Int)
      : Workload = name match {
    case "serve" => new Serve(spark, seed, cores)
    case "churn" => new Churn(spark, seed, cores)
    case "corpus" => new Corpus(spark, seed, cores)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Times one set-up phase, its jobs grouped under the phase's name. */
  def phase[T](spark: SparkSession, name: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(Trace.group(s"setup.$name", 0), name,
      interruptOnCancel = false)
    try time(body) finally sc.clearJobGroup()
  }

  val vecSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false),
      nullable = false)))
  val querySchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("query_vec", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def local(spark: SparkSession, schema: StructType, rows: Seq[Row])
      : DataFrame = spark.createDataFrame(rows.asJava, schema)

  /** Generated set-up input, partitioned like a file source and persisted
    * so the program reads cached blocks, not the driver's row list. */
  def persisted(spark: SparkSession, schema: StructType, rows: Seq[Row],
      cores: Int): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, cores), schema).persist()
    df.count()
    df
  }

  /** (size, modified time) of every file under `dir`, keyed by path. */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => p.toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }
  }

  /** Bytes of the files under `dir` that are new or rewritten since the
    * listing `before`. */
  def written(dir: String, before: Map[String, (Long, Long)]): Long =
    listing(dir).collect {
      case (p, sm @ (size, _)) if !before.get(p).contains(sm) => size
    }.sum

  /** Recall problems of one kNN answer set against the exact top-k over
    * `ids`/`vecs`, plus the mean recall. */
  def recallCheck(rows: Array[Row], queries: Seq[(Long, Array[Float])],
      ids: Array[Long], vecs: Array[Array[Float]], k: Int, floor: Double)
      : (Double, Seq[String]) = {
    val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    val served = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("id")).toSeq }
    val problems = mutable.ArrayBuffer.empty[String]
    val recalls = queries.map { case (qid, qv) =>
      val got = served.getOrElse(qid, Nil)
      if (got.length > k) problems += s"query $qid got ${got.length} > $k rows"
      if (got.distinct.length != got.length)
        problems += s"query $qid got a repeated id"
      Stats.recall(got, Stats.exactTopK(qv, ids, vecs, norms, k, 0.0))
    }
    val mean = recalls.sum / recalls.length
    if (mean < floor) problems += f"mean recall@$k $mean%.3f below $floor"
    (mean, problems.toSeq)
  }
}

import Workload._

/** Read-only serving: one store whose facade memos stay warm, answered by
  * `searchAuto`, so the dispatcher and the graph walk do the work. */
final class Serve(spark: SparkSession, seed: Long, cores: Int)
    extends Workload {
  val N = 2000
  /** Below the default exact cutoff of 50 000 the dispatcher would always
    * scan; the store is kept small enough to set up in seconds, so the
    * cutoff is lowered to put it in the index regime it has at scale. */
  val ExactCutoff = 1000L
  /** The hot-bucket share the skew gate reads is measured on the whole
    * small store, and on these inputs it lies at 0.02-0.04 for nearly every
    * seed and near the default gate of 0.05 for a few; 0.1 keeps every seed
    * on the same (non-skewed) arm. */
  val SkewCutoff = 0.1
  val RecallFloor = 0.9
  /** The first search runs about three times slower while the JIT
    * compiles the walk's plans, the second still a third slower, and the
    * next few still speed up by a few percent each. */
  val warmCycles = 4
  /** Six searches take 6-8 s, so a 6-s window holds six. */
  val minCycles = 6

  private val gen = new VectorGen(seed, Dim)
  private var store: VectorStore = _
  private var ids: Array[Long] = _
  private var vecs: Array[Array[Float]] = _
  private val qs = gen.stream(2)
  private var nextQ = 0L
  private val dispatch = mutable.Map.empty[String, Double].withDefaultValue(0)
  private val recalls = mutable.ArrayBuffer.empty[Double]

  def setup(dir: String): Seq[(String, Double)] = {
    val (df, tGen) = phase(spark, "generate_s") {
      val s = gen.stream(1)
      vecs = Array.fill(N)(gen.point(s))
      ids = Array.tabulate(N)(_.toLong)
      persisted(spark, vecSchema, ids.indices.map(i => Row(ids(i), vecs(i).toSeq)), cores)
    }
    val (_, tLoad) = phase(spark, "load_s") {
      store = VectorStore.openOrCreate(spark, dir, IndexParams(dim = Dim))
      store.addBatch(df)
    }
    df.unpersist()
    val (_, tGraph) = phase(spark, "graph_build_s")(store.rebuild())
    Seq("generate_s" -> tGen, "load_s" -> tLoad, "graph_build_s" -> tGraph)
  }

  def cycle(h: Harness): Boolean = {
    val q = Seq.fill(QueryBatch) { nextQ += 1; (nextQ, gen.point(qs)) }
    val qdf = local(spark, querySchema, q.map { case (i, v) => Row(i, v.toSeq) })
    var strategy: AdaptiveSearch.Strategy = null
    val (c, rows) = h.query("search_auto", "search", QueryBatch) {
      val (s, df) = store.searchAuto(qdf, 10, strengthSetting = 0,
        exactCutoff = ExactCutoff, skewCutoff = SkewCutoff)
      strategy = s
      df
    }
    dispatch(strategy.toString) += 1
    val (r, problems) = recallCheck(rows, q, ids, vecs, 10, RecallFloor)
    recalls += r
    h.check(c, problems)
  }

  def counters: Map[String, Double] =
    dispatch.toMap.map { case (k, v) => s"dispatch.$k" -> v } ++
      (if (recalls.isEmpty) Map.empty[String, Double]
       else Map("recall_at_10" -> recalls.sum / recalls.length))
}

/** Write-heavy churn: every cycle appends one delta to the PQ generation
  * and then searches it, so every facade memo is invalidated each cycle.
  * The delta overwrites, inserts and tombstones so the live size stays
  * constant. */
final class Churn(spark: SparkSession, seed: Long, cores: Int)
    extends Workload {
  val N = 2000
  val Overwrites = 600
  val Inserts = 200
  val Deletes = 200
  val RecallFloor = 0.9
  /** The first append and search of a JVM run about a quarter slower
    * (class loading, JIT, plan codegen); set-up never runs them. After one
    * warm-up cycle the next search is still slower than the one after it,
    * and by how much differs from run to run. */
  val warmCycles = 2
  /** A cycle takes 4-8 s: without a floor, a 6-s window holds one cycle
    * on a slower run and two on a faster one. One search varies by a
    * tenth or more from the next, so the median is taken over three. */
  val minCycles = 3

  private val gen = new VectorGen(seed, Dim)
  private var store: VectorStore = _
  private var dir: String = _
  private var ledger: Stats.Ledger = _
  private var nextId = 0L
  private val ds = gen.stream(3)
  private val qs = gen.stream(2)
  private var nextQ = 0L
  private var storeBytes = 0L
  private var userBytes = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]

  def setup(d: String): Seq[(String, Double)] = {
    dir = d
    val (df, tGen) = phase(spark, "generate_s") {
      val s = gen.stream(1)
      ledger = new Stats.Ledger
      (0 until N).foreach(i => ledger.put(i.toLong, gen.point(s)))
      nextId = N
      persisted(spark, vecSchema,
        ledger.live.toSeq.map { case (i, v) => Row(i, v.toSeq) }, cores)
    }
    val (_, tLoad) = phase(spark, "load_s") {
      store = VectorStore.openOrCreate(spark, dir, IndexParams(dim = Dim))
      store.addBatch(df)
    }
    df.unpersist()
    val (_, tPq) = phase(spark, "pq_build_s")(store.buildPqIndex())
    Seq("generate_s" -> tGen, "load_s" -> tLoad, "pq_build_s" -> tPq)
  }

  def cycle(h: Harness): Boolean = {
    // the delta: distinct live ids to overwrite and to delete, fresh ids
    // to insert — live size is unchanged
    val liveIds = ledger.live.keysIterator.toArray
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < Overwrites + Deletes)
      picked += liveIds(ds.nextInt(liveIds.length))
    val (over, del) = picked.toSeq.splitAt(Overwrites)
    val ins = Seq.fill(Inserts) { nextId += 1; nextId - 1 }
    val upserts = (over ++ ins).map(i => i -> gen.point(ds))
    val rows = upserts.map { case (i, v) => Row(i, v.toSeq, false) } ++
      del.map(i => Row(i, ledger.live(i).toSeq, true))
    val delta = local(spark, vecSchema.add("deleted", BooleanType,
      nullable = false), rows)
    val before = listing(dir)
    val (w, stats) = h.write("append_pq", "write", rows.length) {
      store.appendPqIndex(delta)
    }
    storeBytes += written(dir, before)
    userBytes += rows.length * (8L + 4L * Dim + 1L)
    upserts.foreach { case (i, v) => ledger.put(i, v) }
    del.foreach(ledger.delete)
    val wProblems =
      (if (stats.nAppended == upserts.length && stats.nTombstoned == del.length)
         Nil
       else Seq(s"append reported ${stats.nAppended}/${stats.nTombstoned}")) ++
        ledger.countProblem(store.count())
    if (!h.check(w, wProblems)) return false

    val q = Seq.fill(QueryBatch) { nextQ += 1; (nextQ, gen.point(qs)) }
    val qdf = local(spark, querySchema, q.map { case (i, v) => Row(i, v.toSeq) })
    val (c, res) = h.query("search_pq", "search", QueryBatch) {
      store.searchPq(qdf, 10, strengthSetting = 0)
    }
    val (ids, vecs) = ledger.live.toArray.unzip
    val (r, problems) = recallCheck(res, q, ids, vecs, 10, RecallFloor)
    recalls += r
    h.check(c, ledger.servedProblems(res.map(_.getAs[Long]("id"))) ++ problems)
  }

  def counters: Map[String, Double] =
    (if (userBytes == 0) Map.empty[String, Double]
     else Map("append_pq.write_amp" -> storeBytes.toDouble / userBytes)) ++
      (if (recalls.isEmpty) Map.empty[String, Double]
       else Map("recall_at_10" -> recalls.sum / recalls.length))
}

/** LLM-corpus maintenance: replace a slice of documents, refresh the chunk
  * index, assemble a training generation with every drop stage on, and
  * serve chunk search. Text hashing, dedup pair generation and component
  * iterations do the work; no vector index runs. */
final class Corpus(spark: SparkSession, seed: Long, cores: Int)
    extends Workload {
  val N = 1500
  val Replace = N / 10
  val Queries = 32
  /** Chunk searches per cycle, each with fresh queries. One search takes
    * about 1 s and varies by a tenth from the next, so the median is taken
    * over five per cycle. */
  val Searches = 5
  /** The first cycle of a JVM runs about half as long again as the next
    * (class loading, JIT, plan codegen); set-up never runs its calls. */
  val warmCycles = 1
  /** A cycle takes 10-15 s, past a 6-s window. */
  val minCycles = 1

  private val gen = new DocGen(seed)
  private var store: CorpusStore = _
  private var dir: String = _
  private var docs: Array[DocGen.Doc] = _
  private val rs = gen.stream(3)
  private var nextQ = 0L
  private var storeBytes = 0L
  private var userBytes = 0L

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))
  private val benchDf = local(spark, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))),
    gen.benchTexts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) })
  private val params = CorpusStore.AssemblyParams(
    minTokens = 30, minQuality = 0.8, maxPerSource = N / 4,
    nearDupJaccard = 0.7, benchmark = Some(benchDf), maxSharedNgrams = 4,
    contaminationN = 8,
    targets = Map("web" -> 4L, "books" -> 2L, "news" -> 2L, "code" -> 1L,
      "forum" -> 1L, "wiki" -> 1L),
    seqTokens = 512)

  private def known(i: Long) = i >= 0 && i < N

  private def earlier(r: SplittableRandom): () => Option[String] = () =>
    if (docs == null) None else Some(docs(r.nextInt(docs.length)).text)

  /** True when a doc carries an intact run of 16 benchmark words, so it
    * shares at least 9 benchmark 8-grams and decontamination must drop it. */
  def contaminated(text: String): Boolean =
    text.split(" +").foldLeft((0, false)) { case ((run, hit), w) =>
      val r = if (w.startsWith("b")) run + 1 else 0
      (r, hit || r >= 16)
    }._2

  def setup(d: String): Seq[(String, Double)] = {
    dir = d
    val (df, tGen) = phase(spark, "generate_s") {
      val s = gen.stream(1)
      docs = null
      val buf = mutable.ArrayBuffer.empty[DocGen.Doc]
      val pick = () => if (buf.isEmpty) None else Some(buf(s.nextInt(buf.length)).text)
      (0 until N).foreach(_ => buf += gen.doc(s, pick))
      docs = buf.toArray
      persisted(spark, docSchema, docs.indices.map(i =>
        Row(i.toLong, docs(i).text, docs(i).source)), cores)
    }
    val (_, tLoad) = phase(spark, "load_s") {
      store = CorpusStore.openOrCreate(spark, dir)
      store.putDocuments(df)
    }
    df.unpersist()
    val (_, tChunk) = phase(spark, "chunk_build_s")(
      store.buildChunkIndex())
    Seq("generate_s" -> tGen, "load_s" -> tLoad, "chunk_build_s" -> tChunk)
  }

  def cycle(h: Harness): Boolean = {
    val ids = mutable.LinkedHashSet.empty[Int]
    while (ids.size < Replace) ids += rs.nextInt(N)
    val repl = ids.toSeq.map(i => i -> gen.doc(rs, earlier(rs)))
    val batch = local(spark, docSchema, repl.map { case (i, d) =>
      Row(i.toLong, d.text, d.source) })
    val before = listing(dir)
    val (a, _) = h.write("append_docs", "write", Replace) {
      store.appendDocuments(batch)
    }
    repl.foreach { case (i, d) => docs(i) = d }
    val (r, _) = h.write("refresh_chunks", "write", Replace) {
      store.refreshChunkIndex()
    }
    storeBytes += written(dir, before)
    userBytes += repl.map { case (_, d) =>
      8L + d.text.length + d.source.length }.sum

    val (asm, _) = h.write("assemble", "assemble", N)(store.assemble(params))
    val out = store.trainingDocs.select(col("doc_id"), col("text")).collect()
    val outIds = out.map(_.getLong(0))
    val manifestN = """"n_output_docs": (\d+)""".r
      .findFirstMatchIn(store.manifest).map(_.group(1).toLong)
    val unknown = outIds.filterNot(known)
    val dirty = outIds.filter(i => known(i) && contaminated(docs(i.toInt).text))
    val dupTexts = out.groupBy(_.getString(1)).count(_._2.length > 1)
    val aProblems =
      (if (manifestN.contains(outIds.length.toLong)) Nil
       else Seq(s"manifest n_output_docs $manifestN != ${outIds.length}")) ++
      (if (unknown.isEmpty) Nil
       else Seq(s"${unknown.length} unknown doc_ids, e.g. ${unknown.head}")) ++
      (if (dirty.isEmpty) Nil
       else Seq(s"${dirty.length} contaminated docs survived, e.g. ${dirty.head}")) ++
      (if (dupTexts == 0) Nil else Seq(s"$dupTexts exact duplicates survived")) ++
      (if (outIds.nonEmpty) Nil else Seq("empty training set"))
    if (!h.check(asm, aProblems)) return false
    (1 to Searches).forall(_ => search(h))
  }

  /** One checked `searchChunks` call. The queries are a 24-word span of a
    * current fresh doc each, so its own chunk is the expected best hit. */
  private def search(h: Harness): Boolean = {
    val fresh = docs.indices.filter(i => docs(i).kind == DocGen.Kind.Fresh)
    val q = Seq.fill(Queries) {
      nextQ += 1
      val i = fresh(rs.nextInt(fresh.length))
      val ws = docs(i).text.split(" +")
      val at = rs.nextInt(math.max(1, ws.length - 24))
      (nextQ, i.toLong, ws.slice(at, at + 24).mkString(" "))
    }
    val qdf = local(spark, StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))),
      q.map { case (qi, _, t) => Row(qi, t) })
    val (c, rows) = h.query("search_chunks", "search", Queries) {
      store.searchChunks(qdf, 5)
    }
    // every hit must be a window of its doc's CURRENT text (a stale chunk
    // of a replaced doc fails), each query gets k hits, and the ranking
    // must find the query's own doc for most queries
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    val unknownHits = rows.map(_.getAs[Long]("doc_id")).filterNot(known)
    val stale = rows.count { r =>
      val id = r.getAs[Long]("doc_id")
      known(id) && !docs(id.toInt).text.split(" +").mkString(" ", " ", " ")
        .contains(r.getAs[String]("chunk_text").split(" +")
        .mkString(" ", " ", " "))
    }
    val missed = q.count { case (qi, src, _) =>
      !byQ.getOrElse(qi, Array.empty[Row]).exists(_.getAs[Long]("doc_id") == src)
    }
    val sProblems =
      q.flatMap { case (qi, _, _) =>
        val n = byQ.get(qi).map(_.length).getOrElse(0)
        if (n == 5) None else Some(s"query $qi got $n rows")
      } ++
      (if (unknownHits.isEmpty) Nil
       else Seq(s"hit on unknown doc_id ${unknownHits.head}")) ++
      (if (stale == 0) Nil else Seq(s"$stale hits are not in their doc's current text")) ++
      (if (missed <= Queries / 2) Nil
       else Seq(s"$missed of $Queries queries missed their source doc"))
    h.check(c, sProblems)
  }

  def counters: Map[String, Double] =
    if (userBytes == 0) Map.empty
    else Map("append_docs.write_amp" -> storeBytes.toDouble / userBytes)
}
