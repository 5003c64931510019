package graft

import org.apache.spark.sql.functions._
import graft.CorpusStore.AssemblyParams

/** CorpusStore facade lifecycle: snapshot chain semantics, atomic
  * generation flips, and the composed assembly against the loose
  * operators it wraps. */
class CorpusStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf001)

  private def newStore() = CorpusStore.openOrCreate(spark,
    graft.util.Fs.tempDirDeletedOnExit("graft-corpus-store-spec"))

  test("putDocuments/documents round-trips with payload columns") {
    val store = newStore()
    store.putDocuments(docs)
    assert(store.documents.count() === docs.count())
    assert(store.documents.columns.sorted === docs.columns.sorted)
    store.delete()
  }

  test("documents before any put throws; trainingDocs before assemble " +
      "throws") {
    val store = newStore()
    intercept[IllegalStateException] { store.documents }
    store.putDocuments(docs)
    intercept[IllegalStateException] { store.trainingDocs }
    store.delete()
  }

  test("appendDocuments: new ids union in, colliding ids are replaced " +
      "latest-wins") {
    val store = newStore()
    store.putDocuments(docs.limit(0)) // empty snapshot, full schema
    store.appendDocuments(docs.filter(col("doc_id") < 10))
    assert(store.documents.count() === 10)
    // replace doc 3 and add doc 1000 in one batch
    val batch = docs.filter(col("doc_id").isin(3L, 4L))
      .withColumn("text", lit("replaced words here"))
      .withColumn("doc_id", when(col("doc_id") === 4, 1000L)
        .otherwise(col("doc_id")))
    store.appendDocuments(batch)
    assert(store.documents.count() === 11)
    val got = store.documents.filter(col("doc_id") === 3)
      .select("text").as[String].head()
    assert(got === "replaced words here")
    store.delete()
  }

  test("appendDocuments lands as O(batch) deltas; compaction folds the " +
      "chain and deletes superseded directories (bounded disk)") {
    val path = graft.util.Fs.tempDirDeletedOnExit("graft-corpus-delta-spec")
    val store = CorpusStore.openOrCreate(spark, path, compactEvery = 3)
    def dirs() = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("docs_")).sorted.toList
    store.putDocuments(docs.filter(col("doc_id") < 10))
    assert(dirs() === List("docs_v0"))
    // two appends → two deltas, base untouched (O(batch) writes)
    store.appendDocuments(docs.filter(col("doc_id").between(10, 14)))
    store.appendDocuments(docs.filter(col("doc_id").between(15, 19)))
    assert(dirs() ===
      List("docs_v0", "docs_v0_delta_1", "docs_v0_delta_2"))
    // the overlaid read sees all three pieces, latest-wins across deltas
    assert(store.documents.count() === 20)
    val reBatch = docs.filter(col("doc_id") === 12)
      .withColumn("text", lit("delta-two wins"))
    store.appendDocuments(reBatch) // 3rd append → auto-compaction
    // the folded-away generation is GRACED one flip cycle (lazy readers
    // of the old pointer stay valid), with its committed delta count
    // sealed; it dies on the NEXT flip — disk stays bounded at live +
    // one graced generation
    assert(dirs() === List("docs_v0", "docs_v0_SEALED", "docs_v0_delta_1",
      "docs_v0_delta_2", "docs_v0_delta_3", "docs_v1"),
      "compaction must fold; the superseded chain is graced one cycle")
    assert(store.documents.count() === 20)
    assert(store.documents.filter(col("doc_id") === 12)
      .select("text").as[String].head() === "delta-two wins")
    // the next put prunes past the graced generation
    store.putDocuments(docs.filter(col("doc_id") < 5))
    assert(dirs() === List("docs_v1", "docs_v1_SEALED", "docs_v2"))
    assert(store.documents.count() === 5)
    store.putDocuments(docs.filter(col("doc_id") < 3))
    assert(dirs() === List("docs_v2", "docs_v2_SEALED", "docs_v3"))
    assert(store.documents.count() === 3)
    store.delete()
  }

  test("delta overlay: later delta replaces an id an earlier delta wrote") {
    val store = CorpusStore.openOrCreate(spark,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-delta2-spec"),
      compactEvery = 100)
    store.putDocuments(docs.limit(0))
    store.appendDocuments(docs.filter(col("doc_id") < 3))
    store.appendDocuments(docs.filter(col("doc_id") === 1)
      .withColumn("text", lit("second write")))
    assert(store.documents.count() === 3)
    assert(store.documents.filter(col("doc_id") === 1)
      .select("text").as[String].head() === "second write")
    store.delete()
  }

  test("appendDocuments rejects a schema mismatch") {
    val store = newStore()
    store.putDocuments(docs)
    intercept[IllegalArgumentException] {
      store.appendDocuments(docs.drop("lang"))
    }
    store.delete()
  }

  test("default assemble is clean + exact-dedup pass-through: all docs " +
      "survive (fixture has no dups), every doc split-assigned, " +
      "sequences cover exactly the train tokens") {
    val store = newStore()
    store.putDocuments(docs)
    store.assemble(AssemblyParams(seqTokens = 128))
    val td = store.trainingDocs
    assert(td.count() === docs.count())
    assert(td.select("split").distinct().as[String].collect().toSet
      === Set("train", "val", "test"))
    // packed fragments reproduce the train split's token total exactly
    val trainToks = td.filter(col("split") === "train")
      .agg(sum(col("n_toks"))).as[Long].head()
    val fragToks = store.trainingSequences
      .agg(sum(col("frag_tokens"))).as[Long].head()
    assert(fragToks === trainToks)
    // and every full sequence holds exactly 128 tokens
    val full = store.trainingSequences.groupBy(col("seq_id"))
      .agg(sum(col("frag_tokens")).as("n"))
    val maxSeq = full.agg(max(col("seq_id"))).as[Long].head()
    assert(full.filter(col("seq_id") < maxSeq && col("n") =!= 128)
      .count() === 0)
    store.delete()
  }

  test("assemble flips generations atomically: re-assemble with a new " +
      "config serves the new generation and removes the old directory") {
    val store = newStore()
    store.putDocuments(docs)
    store.assemble(AssemblyParams(seqTokens = 128))
    val n0 = store.trainingDocs.count()
    assert(graft.util.Fs.exists(spark, s"${store.path}/train_g0"))
    store.assemble(AssemblyParams(seqTokens = 128, minQuality = 0.62))
    val n1 = store.trainingDocs.count()
    assert(n1 < n0, s"quality gate should bite: $n1 vs $n0")
    assert(graft.util.Fs.exists(spark, s"${store.path}/train_g1"))
    // g0 is graced one flip cycle (lazy readers of the old pointer stay
    // valid); the next re-assemble prunes it
    assert(graft.util.Fs.exists(spark, s"${store.path}/train_g0"))
    store.assemble(AssemblyParams(seqTokens = 128))
    assert(graft.util.Fs.exists(spark, s"${store.path}/train_g2"))
    assert(!graft.util.Fs.exists(spark, s"${store.path}/train_g0"))
    store.delete()
  }

  test("retainGenerations versions the dataset: documentsAsOf reproduces " +
      "retained corpus versions, trainingDocsAsOf + manifestAsOf a prior " +
      "training generation, and the window slides on both chains") {
    val store = CorpusStore.openOrCreate(spark,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-asof"),
      retainGenerations = 1)
    def state(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().toSet
    store.putDocuments(docs) // docs_v0
    store.appendDocuments(docs.filter(col("doc_id") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" A")))
      .select(docs.columns.map(col).toIndexedSeq: _*)) // v0_delta_1
    val v0end = state(store.documents)
    store.putDocuments(docs.filter(col("doc_id") < 100)) // docs_v1
    assert(store.docVersions() === Seq(0L, 1L))
    // v0 reads AT ITS END — the delta it accumulated is included
    assert(state(store.documentsAsOf(0L)) === v0end)
    store.putDocuments(docs) // docs_v2: window slides, v0 + delta die
    assert(store.docVersions() === Seq(1L, 2L))
    assert(!graft.util.Fs.exists(spark, s"${store.path}/docs_v0_delta_1"))
    val err = intercept[IllegalArgumentException](store.documentsAsOf(0L))
    assert(err.getMessage.contains("not retained"))
    // training generations: the superseded mix stays reproducible and
    // its manifest still links to the docs version it was built from
    store.assemble(AssemblyParams(seqTokens = 128)) // train_g0
    val g0docs = store.trainingDocs.count()
    val g0seqs = store.trainingSequences.count()
    store.assemble(AssemblyParams(seqTokens = 128, minQuality = 0.62))
    assert(store.trainGenerations() === Seq(0L, 1L))
    assert(store.trainingDocsAsOf(0L).count() === g0docs)
    assert(store.trainingSequencesAsOf(0L).count() === g0seqs)
    assert(store.manifestAsOf(0L).contains("\"docs_version\": 2"))
    assert(store.trainingDocsAsOf(1L).count()
      === store.trainingDocs.count())
    store.assemble(AssemblyParams(seqTokens = 128)) // train_g2: g0 dies
    assert(store.trainGenerations() === Seq(1L, 2L))
    intercept[IllegalArgumentException](store.manifestAsOf(0L))
    // branch a retained docs version into an independent corpus: the
    // branch serves the historical docs and re-assembles on its own
    val branch = store.branchAsOf(1L,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-branch"))
    assert(branch.documents.count() === store.documentsAsOf(1L).count())
    branch.assemble(AssemblyParams(seqTokens = 128))
    assert(branch.trainGenerations() === Seq(0L))
    intercept[IllegalArgumentException](store.branchAsOf(1L, branch.path))
    branch.delete()
    store.delete()
  }

  test("assembly stages match the loose operators they wrap " +
      "(cap + resample + split on the cleaned corpus)") {
    import graft.operators._
    val store = newStore()
    store.putDocuments(docs)
    val p = AssemblyParams(maxPerSource = 15,
      targets = Map("src1" -> 3L, "src2" -> 1L, "src3" -> 2L),
      seqTokens = 256)
    store.assemble(p)
    val td = store.trainingDocs
    // re-derive with the loose operators (fixture text is already clean,
    // no dups, all-quality ≥ 0: clean/gate/dedup are identity here)
    val cleaned = docs.withColumn("text",
      TextClean.maskPii(TextClean.normalizeWs(col("text"))))
    val capped = CorpusOps.sourceCap(cleaned, 15).drop("src_rank")
    val expect = CorpusOps.resampleToMixture(capped, p.targets)
    assert(td.select("doc_id").as[Long].collect().sorted
      === expect.select("doc_id").as[Long].collect().sorted)
    // rates agree with the standalone operator's
    val gotRates = td.select("source", "rate_micro").distinct()
      .as[(String, Long)].collect().toMap
    val expRates = expect.select("source", "rate_micro").distinct()
      .as[(String, Long)].collect().toMap
    assert(gotRates === expRates)
    store.delete()
  }

  test("assemble with embeddings runs semantic dedup: embedding clones " +
      "drop, docs without embeddings survive untouched") {
    val store = newStore()
    // doc 3 is a semantic clone of doc 1 (identical direction, different
    // text bytes — invisible to exact dedup); docs 5/7 have no embedding
    val d = Seq(
      (1L, "alpha beta gamma words", "src1", "en"),
      (3L, "totally different surface text", "src1", "en"),
      (5L, "no embedding here", "src2", "en"),
      (7L, "nor here either", "src2", "en")
    ).toDF("doc_id", "text", "source", "lang").withColumn("n_chars",
      length(col("text")))
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f))
    ).toDF("doc_id", "vector")
    store.putDocuments(d)
    store.assemble(AssemblyParams(seqTokens = 64,
      embeddings = Some(emb), semanticTau = 0.9, semanticK = 2))
    val kept = store.trainingDocs.select("doc_id").as[Long]
      .collect().toSet
    assert(kept === Set(1L, 5L, 7L), s"got $kept")
    store.delete()
  }

  test("assemble with a DSIR target keeps the k most target-like docs") {
    val store = newStore()
    // a unique trailing token per doc keeps the exact-dedup stage from
    // collapsing same-class docs before DSIR sees them
    val d = (0 until 20).map { i =>
      val text = if (i % 2 == 0) s"alpha beta gamma alpha beta gamma doc$i"
        else s"zip zap zop zip zap zop doc$i"
      (i.toLong, text, s"src${i % 3}", "en")
    }.toDF("doc_id", "text", "source", "lang")
      .withColumn("n_chars", length(col("text")))
    val target = Seq((99L, "alpha beta gamma")).toDF("doc_id", "text")
    store.putDocuments(d)
    store.assemble(AssemblyParams(seqTokens = 64,
      dsirTarget = Some(target), dsirK = 10))
    val kept = store.trainingDocs.select("doc_id").as[Long]
      .collect().toSet
    assert(kept === (0 until 20 by 2).map(_.toLong).toSet, s"got $kept")
    store.delete()
  }

  test("streaming ingest: batches apply serially, same-batch duplicate " +
      "doc_ids resolve by seq, colliding ids replace latest-wins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    val store = newStore()
    val q = store.startIngest(
      stream.toDF().toDF("doc_id", "text", "seq"))
    try {
      stream.addData((1L, "first words", 1L), (2L, "second doc", 2L))
      q.processAllAvailable()
      assert(store.documents.count() === 2)
      // batch 2: replace doc 1, add doc 3 twice (later seq wins)
      stream.addData((1L, "replaced words", 1L),
        (3L, "early version", 2L), (3L, "late version", 3L))
      q.processAllAvailable()
      val got = store.documents.orderBy("doc_id")
        .as[(Long, String)].collect().toList
      assert(got === List((1L, "replaced words"), (2L, "second doc"),
        (3L, "late version")))
    } finally q.stop()
    store.delete()
  }

  test("searchChunks reads the CHUNKS pointer once: the served view, its " +
      "checkpoint rule and the query dim come from one observation") {
    val store = CorpusStore.openOrCreate(spark,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-store-spec"),
      compactEvery = 100)
    store.putDocuments(docs.select(col("doc_id"), col("text")).limit(20))
    store.buildChunkIndex(window = 32, stride = 16, dim = 16)
    store.appendDocuments(Seq((3L, "fresh words for doc three")).toDF(
      "doc_id", "text"))
    store.refreshChunkIndex() // a one-delta chain: the checkpointed view
    // the replaced doc's own text: its refreshed chunk scores cosine 1
    val probe = Seq((1L, "fresh words for doc three")).toDF("query_id",
      "text")
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    PointerCountingFs.opens.set(0)
    val hits =
      try {
        conf.set("fs.file.impl", classOf[PointerCountingFs].getName)
        conf.setBoolean("fs.file.impl.disable.cache", true)
        store.searchChunks(probe, k = 3)
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    assert(PointerCountingFs.opens.get === 1)
    assert(hits.filter(col("rn") === 1).select("doc_id").as[Long].head()
      === 3L)
    store.delete()
  }

  test("refreshChunkIndex retires chunks of a doc replaced with " +
      "token-less text (the tombstone path)") {
    val store = CorpusStore.openOrCreate(spark,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-store-spec"),
      compactEvery = 100)
    store.putDocuments(docs.select(col("doc_id"), col("text")).limit(20))
    store.buildChunkIndex(window = 32, stride = 16, dim = 16)
    assert(store.chunkTable.filter(col("doc_id") === 3L).count() > 0)
    // replace doc 3 with EMPTY text: it yields zero chunks, so without
    // a tombstone the overlay could never retire its base chunks
    store.appendDocuments(Seq((3L, "")).toDF("doc_id", "text"))
    store.refreshChunkIndex()
    assert(store.chunkTable.filter(col("doc_id") === 3L).count() === 0)
    // the tombstone never serves and compaction bakes the deletion in
    val probe = Seq((1L, "anything at all")).toDF("query_id", "text")
    assert(store.searchChunks(probe, k = 50)
      .filter(col("doc_id") === 3L).count() === 0)
    store.compactChunkIndex()
    assert(store.chunkTable.filter(col("doc_id") === 3L).count() === 0)
    assert(store.chunkTable.filter(col("chunk_id") < 0).count() === 0)
    store.delete()
  }

  test("doc compaction carries the chunk watermark: no full chunk " +
      "rebuild every compactEvery appends") {
    val store = CorpusStore.openOrCreate(spark,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-store-spec"),
      compactEvery = 2)
    store.putDocuments(docs.select(col("doc_id"), col("text")).limit(50))
    store.buildChunkIndex(window = 32, stride = 16, dim = 16)
    store.appendDocuments(Seq((80001L, "first streamed doc"))
      .toDF("doc_id", "text"))
    store.refreshChunkIndex()
    // second append hits compactEvery: docs fold to a new base, and the
    // chunk index must be caught up + watermark-carried, not stranded
    store.appendDocuments(Seq((80002L, "second streamed doc"))
      .toDF("doc_id", "text"))
    val docsState = graft.util.Fs.readString(spark,
      s"${store.path}/DOCS").trim
    assert(docsState === "1", s"docs should have compacted: $docsState")
    assert(graft.util.Fs.readString(spark,
      s"${store.path}/CHUNK_DOCS_STATE").trim === "1 0")
    // both streamed docs are searchable through the chunk tier
    assert(store.chunkTable.filter(col("doc_id").isin(80001L, 80002L))
      .count() === 2)
    // and the watermark really prevents the stale-base full rebuild: a
    // refresh is now a no-op (no new chunk generation appears)
    val gen = graft.util.Fs.readString(spark, s"${store.path}/CHUNKS")
      .trim
    store.refreshChunkIndex()
    assert(graft.util.Fs.readString(spark, s"${store.path}/CHUNKS")
      .trim === gen)
    store.delete()
  }

  test("streaming ingest with refreshChunks: the RAG tier stays " +
      "searchable as documents stream in, each batch an O(batch) delta") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    val store = CorpusStore.openOrCreate(spark,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-store-spec"),
      compactEvery = 100)
    store.putDocuments(docs.select(col("doc_id"), col("text")))
    store.buildChunkIndex(window = 32, stride = 16, dim = 16)
    val q = store.startIngest(
      stream.toDF().toDF("doc_id", "text", "seq"), refreshChunks = true)
    try {
      stream.addData((70001L, "totally fresh streaming payload", 1L))
      q.processAllAvailable()
      assert(graft.util.Fs.exists(spark,
        s"${store.path}/chunks_v0_delta_1"))
      val probe = Seq((1L, "totally fresh streaming payload"))
        .toDF("query_id", "text")
      assert(store.searchChunks(probe, k = 1)
        .select("doc_id").as[Long].head() === 70001L)
    } finally q.stop()
    store.delete()
  }

  test("decontamination drops exactly the docs sharing n-grams with " +
      "the benchmark (the t06 action, via the facade)") {
    val store = newStore()
    store.putDocuments(docs)
    // benchmark = the held-out texts of every 50th doc — those docs (and
    // only those docs plus any text-identical siblings) must drop
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    // 8-grams: benchmark members share their ENTIRE text (every 8-gram)
    // and always drop; incidental phrase overlap at 8 tokens is rare.
    // (At n=3 the templated fixture text shares trigrams so widely that
    // a zero-tolerance gate drops half the corpus — realistic for a
    // 0-tolerance trigram rule, which is why production pipelines pick
    // longer n or a nonzero budget.)
    store.assemble(AssemblyParams(seqTokens = 128,
      benchmark = Some(bench), maxSharedNgrams = 0, contaminationN = 8))
    val kept = store.trainingDocs.select("doc_id").as[Long].collect().toSet
    assert(kept.forall(_ % 50 != 0L), "benchmark members survived")
    val total = docs.count()
    assert(kept.size >= (total - total / 50 - total / 10).toInt,
      s"over-dropped: ${kept.size} of $total")
    store.delete()
  }

  test("near-dup assembly drops whitespace-variant clones only because " +
      "cleaning ran first (the d10 composition, via the facade)") {
    val base = docs.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"))
    val clones = base.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", regexp_replace(col("text"), lit(" "), lit("  ")))
    val store = newStore()
    store.putDocuments(base.unionByName(clones))
    store.assemble(AssemblyParams(nearDupJaccard = 0.9, nHashes = 6,
      seqTokens = 128))
    val kept = store.trainingDocs.select("doc_id").as[Long].collect().toSet
    // every clone collapsed onto its min-id original (the fixture also
    // has NATURAL near-dups at J >= 0.9 — d03's harness threshold is
    // 0.95 — so the total can dip below base count; the composition
    // property is that no high-id clone ever wins its cluster)
    assert(kept.forall(_ < 100000L))
    assert(kept.size > 300 && kept.size <= base.count())
    store.delete()
  }

  test("assemble writes an atomic data-card manifest consistent with " +
      "the generation it describes") {
    val store = newStore()
    store.putDocuments(docs)
    store.assemble(AssemblyParams(minTokens = 5, seqTokens = 128,
      blocklist = Seq("spam")))
    val m = store.manifest
    // valid JSON by construction: Spark's parser must see no corruption
    val parsed = spark.read.json(Seq(m).toDS)
    assert(!parsed.columns.contains("_corrupt_record"), m)
    val row = parsed.selectExpr("generation", "n_input_docs",
      "n_output_docs", "n_sequences", "params.min_tokens",
      "params.seq_tokens", "params.blocklist").head()
    assert(row.getLong(0) === 0L)
    assert(row.getLong(1) === docs.count())
    assert(row.getLong(2) === store.trainingDocs.count())
    assert(row.getLong(3) === store.trainingSequences.count())
    assert(row.getLong(4) === 5L)
    assert(row.getLong(5) === 128L)
    assert(row.getSeq[String](6) === Seq("spam"))
    // split counts in the manifest sum to the output doc count
    val splitN = parsed.selectExpr(
        "splits.train.n_docs", "splits.val.n_docs", "splits.test.n_docs")
      .head()
    assert((0 until 3).map(splitN.getLong).sum === row.getLong(2))
    // re-assemble: the new generation carries its own manifest
    store.assemble(AssemblyParams(minTokens = 5, seqTokens = 128))
    assert(spark.read.json(Seq(store.manifest).toDS)
      .selectExpr("generation").head().getLong(0) === 1L)
    store.delete()
  }

  test("tokenizer lifecycle: build persists the merge table atomically, " +
      "segmentDocuments replays it losslessly, rebuild flips") {
    val store = newStore()
    intercept[IllegalStateException] { store.tokenizerMerges }
    store.putDocuments(docs.select(col("doc_id"), col("text")).limit(50))
    store.buildTokenizer(nMerges = 6)
    assert(graft.util.Fs.exists(spark, s"${store.path}/tok_v0"))
    val merges = store.tokenizerMerges
    assert(merges.count() === 6)
    assert(merges.columns.toSeq ===
      Seq("step", "left", "right", "merged", "pair_count"))
    // pieces of every word concatenate back to the word
    val seg = store.segmentDocuments()
    val rebuilt = seg.groupBy(col("id"), col("wpos"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("piece")))),
        x => x.getField("piece")), "").as("w"))
    val orig = store.documents
      .select(col("doc_id").as("id"),
        posexplode(split(col("text"), " ")).as(Seq("wpos", "ow")))
      .filter(length(col("ow")) > 0)
    assert(rebuilt.join(orig, Seq("id", "wpos"))
      .filter(col("w") =!= col("ow")).count() === 0)
    // rebuild at a different size: generation flips, old dir pruned
    store.buildTokenizer(nMerges = 3)
    assert(store.tokenizerMerges.count() === 3)
    assert(graft.util.Fs.exists(spark, s"${store.path}/tok_v1"))
    assert(!graft.util.Fs.exists(spark, s"${store.path}/tok_v0"))
    store.delete()
  }

  test("chunk index lifecycle: build persists a generation, searchChunks " +
      "serves with provenance, rebuild flips and deletes the old gen") {
    val store = newStore()
    intercept[IllegalStateException] { store.chunkTable }
    store.putDocuments(docs.select(col("doc_id"), col("text")))
    intercept[IllegalStateException] {
      store.searchChunks(Seq((1L, "a b c")).toDF("query_id", "text"), 1)
    }
    store.buildChunkIndex(window = 32, stride = 16, dim = 16)
    assert(graft.util.Fs.exists(spark, s"${store.path}/chunks_v0"))
    // every chunk of every non-empty doc is present, uid is doc#chunk
    val ct = store.chunkTable
    assert(ct.count() ===
      graft.operators.CorpusOps.chunkByTokens(store.documents, 32, 16)
        .count())
    assert(ct.filter(col("chunk_uid") !==
      concat(col("doc_id").cast("string"), lit("#"),
        col("chunk_id").cast("string"))).count() === 0)
    // a query made of a SINGLE-CHUNK doc's own text retrieves a chunk
    // with identical hashed content at rank 1 (cosine 1 against its own
    // chunk vector; the fixture's exact clones may tie, so pin the
    // CONTENT, not the id)
    val shortId = docs.filter(size(split(col("text"), " "))
        .between(1, 32))
      .agg(min(col("doc_id"))).as[Long].head()
    val probe = docs.filter(col("doc_id") === shortId)
      .select(col("doc_id").as("query_id"), col("text"))
    val hits = store.searchChunks(probe, k = 3)
    assert(hits.columns.toSeq === Seq("query_id", "doc_id", "chunk_id",
      "start_tok", "chunk_text", "score", "rn"))
    assert(hits.count() === 3)
    val top = hits.filter(col("rn") === 1)
      .select("chunk_text", "score").as[(String, Double)].head()
    assert(top._2 > 0.9999, s"self-retrieval score ${top._2}")
    // rebuild at a different dim: generation flips, old dir removed,
    // serving embeds queries at the NEW generation's stored dim
    store.buildChunkIndex(window = 32, stride = 16, dim = 8)
    assert(graft.util.Fs.exists(spark, s"${store.path}/chunks_v1"))
    assert(!graft.util.Fs.exists(spark, s"${store.path}/chunks_v0"))
    val hits2 = store.searchChunks(probe, k = 3)
    assert(hits2.count() === 3)
    assert(hits2.filter(col("rn") === 1)
      .select("score").as[Double].head() > 0.9999)
    store.delete()
  }

  test("refreshChunkIndex is O(delta): ingest appends land as chunk " +
      "deltas (base untouched), replaced docs' chunks are superseded, " +
      "and compaction folds the chain") {
    val store = CorpusStore.openOrCreate(spark,
      graft.util.Fs.tempDirDeletedOnExit("graft-corpus-store-spec"),
      compactEvery = 100) // keep auto-compaction out of the way
    store.putDocuments(docs.select(col("doc_id"), col("text")))
    store.buildChunkIndex(window = 32, stride = 16, dim = 16)
    val nBase = store.chunkTable.count()
    // refresh with no new deltas: no-op, no delta dir appears
    store.refreshChunkIndex()
    assert(!graft.util.Fs.exists(spark,
      s"${store.path}/chunks_v0_delta_1"))

    // append a new doc + REPLACE doc 3 with a much longer text
    val longText = (1 to 100).map(i => s"w$i").mkString(" ")
    store.appendDocuments(
      Seq((90001L, "brand new doc text"), (3L, longText))
        .toDF("doc_id", "text"))
    store.refreshChunkIndex()
    // the delta landed as a delta, not a rewrite: base dir still live,
    // delta dir holds only the touched docs' chunks
    assert(graft.util.Fs.exists(spark, s"${store.path}/chunks_v0"))
    assert(graft.util.Fs.exists(spark,
      s"${store.path}/chunks_v0_delta_1"))
    val delta = spark.read.parquet(s"${store.path}/chunks_v0_delta_1")
    assert(delta.select("doc_id").distinct().as[Long].collect().toSet ===
      Set(90001L, 3L))
    // serving view: new doc searchable, replaced doc re-chunked at the
    // new length ((100-32+15)/16+1 = 6 chunks), untouched docs intact
    val view = store.chunkTable
    assert(view.filter(col("doc_id") === 90001L).count() === 1)
    assert(view.filter(col("doc_id") === 3L).count() === 6)
    val base = spark.read.parquet(s"${store.path}/chunks_v0")
    assert(view.filter(col("doc_id") =!= 3L && col("doc_id") =!= 90001L)
      .count() === base.filter(col("doc_id") =!= 3L).count())
    val probe = Seq((1L, "brand new doc text")).toDF("query_id", "text")
    assert(store.searchChunks(probe, k = 1)
      .select("doc_id").as[Long].head() === 90001L)
    // compaction folds the overlay into a fresh base and prunes
    // (materialize the pre-compaction count first — `view` is a lazy
    // plan over files compaction deletes)
    val viewCount = view.count()
    store.compactChunkIndex()
    assert(graft.util.Fs.exists(spark, s"${store.path}/chunks_v1"))
    assert(!graft.util.Fs.exists(spark,
      s"${store.path}/chunks_v0_delta_1"))
    assert(store.chunkTable.count() === viewCount)
    assert(nBase > 0)
    store.delete()
  }
}

/** Local filesystem that counts reads of `CHUNKS` snapshot pointers. */
class PointerCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName == "CHUNKS") PointerCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object PointerCountingFs {
  val opens = new java.util.concurrent.atomic.AtomicInteger()
}
