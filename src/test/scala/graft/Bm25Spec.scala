package graft

import org.apache.spark.sql.functions._

import graft.retrieval.Bm25

/** BM25 retrieval: checked against an independent in-memory scorer (plain
  * Scala, no Spark) on a hand-built corpus, plus partition-invariance and
  * contract checks. The sf-corpus hash-exactness vs DuckDB is pq53's job.
  */
class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark shuffles data across the cluster"),
    (2L, "spark spark spark everywhere spark"),
    (3L, "the cluster runs a big data job"),
    (4L, "a tiny doc"),
    (5L, "data data cluster data spark data"),
    (6L, "completely unrelated words only here"))

  /** Reference scorer: same algorithm, written independently of the Spark
    * expression tree (plain doubles, then the same 1e6 floor freeze).
    */
  private def reference(
      queries: Seq[(Long, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Int, Long, Long)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    def df(term: String) = toks.values.count(_.contains(term))
    def idf(term: String) =
      math.log((n - df(term) + 0.5) / (df(term) + 0.5) + 1.0)
    queries.flatMap { case (qid, terms) =>
      val scored = toks.toSeq.flatMap { case (id, ts) =>
        val comps = terms.map { term =>
          val tf = ts.count(_ == term).toDouble
          if (tf == 0) 0L
          else math.floor(1e6 * idf(term) *
            (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * ts.size / avgdl)))).toLong
        }
        if (terms.exists(t => ts.contains(t))) Some((id, comps.sum)) else None
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex.map {
        case ((id, s), i) => (qid, i + 1, id, s)
      }
    }
  }

  test("bm25TopK matches an independent reference scorer, any partitioning") {
    import spark.implicits._
    val queries = Seq(1L -> Seq("spark", "data"), 2L -> Seq("cluster"),
      3L -> Seq("tiny", "job"))
    val expected = reference(queries, k = 3)
    for (parts <- Seq(1, 3, 7)) {
      val df = corpus.toDF("doc_id", "text").repartition(parts)
      val got = Bm25.bm25TopK(df, col("doc_id"), col("text"), queries, k = 3)
        .select("qid", "rank", "doc_id", "score_fp")
        .as[(Long, Int, Long, Long)].collect().toSeq
        .sortBy(r => (r._1, r._2))
      assert(got == expected, s"parts=$parts")
    }
  }

  test("bm25TopK: repeated terms score higher than absent, ranks are dense") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    val out = Bm25.bm25TopK(df, col("doc_id"), col("text"),
      Seq(9L -> Seq("spark")), k = 10).collect()
    // only docs containing "spark" appear, doc 2 (tf=4... highest tf) first
    assert(out.map(_.getLong(2)).toSet == Set(1L, 2L, 5L))
    assert(out.head.getLong(2) == 2L)
    assert(out.map(_.getInt(1)).toSeq == (1 to out.length))
    // score is the fixed-point value recovered by one IEEE division
    out.foreach(r => assert(r.getDouble(4) == r.getLong(3).toDouble / 1e6))
  }

  test("bm25TopK input validation") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Bm25.bm25TopK(df, col("doc_id"), col("text"), Seq.empty, k = 3)
    }
    intercept[IllegalArgumentException] {
      Bm25.bm25TopK(df, col("doc_id"), col("text"), Seq(1L -> Seq("a")), k = 0)
    }
    intercept[IllegalArgumentException] {
      Bm25.bm25TopK(df, col("doc_id"), col("text"), Seq(1L -> Seq.empty), k = 1)
    }
  }

  test("maxsim: a frame-for-frame duplicate outranks everything, and ANN candidates keep recall") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val fr = e.select((col("vec_id") / 10).cast("long").as("doc_id"),
      (col("vec_id") % 10).as("frame_id"), col("embedding").as("vec"))
    // plant a duplicate of doc 0's frames under a fresh id — MaxSim must
    // rank it first for query doc 0 (every per-frame max hits cos=1)
    val dupId = 100000L
    val planted = fr.unionByName(
      fr.filter(col("doc_id") === 0)
        .select(lit(dupId).as("doc_id"), col("frame_id"), col("vec")))
    val q0 = fr.filter(col("doc_id") === 0)
    val full = graft.retrieval.LateInteraction.maxSimTopK(
      planted, q0, "doc_id", "frame_id", "vec", k = 5)
    val top = full.filter(col("rank") === 1)
      .select(col("nbr_id")).as[Long].head()
    assert(top == dupId, s"frame-duplicate doc should rank 1, got $top")

    // candidate-restricted scoring (the PLAID shape) must reproduce the
    // full-cross ranking whenever the true top-k are inside the candidates
    val queries = fr.filter(col("doc_id") % 20 === 0)
    val fullAll = graft.retrieval.LateInteraction.maxSimTopK(
      fr, queries, "doc_id", "frame_id", "vec", k = 5)
    val cands = fullAll.select(col("query_id"), col("nbr_id")) // oracle candidates
      .unionByName(fr.select(col("doc_id").as("query_id"), (col("doc_id") + 1).as("nbr_id")).distinct())
    val restricted = graft.retrieval.LateInteraction.maxSimTopK(
      fr, queries, "doc_id", "frame_id", "vec", k = 5, candidates = Some(cands))
    val s = graft.similarity.Eval.recallSummary(restricted, fullAll)
      .select(col("macro_recall")).as[Double].head()
    assert(s == 1.0, s"candidates contained the true top-k, recall must be 1.0, got $s")
  }

  test("null-text docs do not corrupt the corpus statistics (n_docs, avgdl)") {
    val clean = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha delta"))
      .toDF("doc_id", "text")
    val dirty = clean.unionByName(
      Seq((3L, null: String), (4L, null: String)).toDF("doc_id", "text"))
    val q = Seq(1L -> Seq("alpha"))
    val a = graft.retrieval.Bm25.bm25TopK(clean, col("doc_id"), col("text"), q, k = 5)
      .collect().map(_.toSeq).toSet
    val b = graft.retrieval.Bm25.bm25TopK(dirty, col("doc_id"), col("text"), q, k = 5)
      .collect().map(_.toSeq).toSet
    assert(a == b, "null-text rows must not change any score (they carry no terms)")
  }

  test("incremental stats segments merge to the inline model exactly — same integers, same ranks") {
    val docs = corpus.toDF("doc_id", "text")
    val statsDir = tempDir("graft-bm25-inc") + "/stats"
    val queries = Seq(1L -> Seq("spark", "data"), 2L -> Seq("cluster"))
    // three per-batch segments (batch ids durable → replays idempotent)
    Bm25.appendBm25StatsSegment(docs.filter(col("doc_id") <= 2), 0L, statsDir,
      col("doc_id"), col("text"))
    Bm25.appendBm25StatsSegment(docs.filter(col("doc_id") > 2 && col("doc_id") <= 4),
      1L, statsDir, col("doc_id"), col("text"))
    Bm25.appendBm25StatsSegment(docs.filter(col("doc_id") > 4), 2L, statsDir,
      col("doc_id"), col("text"))
    val inc = Bm25.bm25TopKIncremental(spark, statsDir, docs,
        col("doc_id"), col("text"), queries, k = 4)
      .select("qid", "rank", "doc_id", "score_fp")
      .as[(Long, Int, Long, Long)].collect().toSet
    val inline = Bm25.bm25TopK(docs, col("doc_id"), col("text"), queries, k = 4)
      .select("qid", "rank", "doc_id", "score_fp")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(inc == inline,
      s"merged stats diverged from the inline pass: only-inc=${inc -- inline} only-inline=${inline -- inc}")
    // replay idempotency: re-append batch 1 — the model must not change
    Bm25.appendBm25StatsSegment(docs.filter(col("doc_id") > 2 && col("doc_id") <= 4),
      1L, statsDir, col("doc_id"), col("text"))
    val (n2, s2, df2) = Bm25.bm25ModelFromSegments(spark, statsDir, Seq("spark", "data", "cluster"))
    assert(n2 == 6L, s"replay must not double-count docs: $n2")
    assert(df2("spark") == 3L && df2("cluster") == 3L, s"replayed dfs drifted: $df2")
    assert(s2 == corpus.map(_._2.split(" ").length).sum, "total token count drifted")
    // a term unseen by ANY segment scores with df=0, matching the inline
    // contract (idf falls back through dfByTerm.getOrElse)
    val unseen = Bm25.bm25TopKIncremental(spark, statsDir, docs,
      col("doc_id"), col("text"), Seq(9L -> Seq("zzz-not-a-term")), k = 3)
    assert(unseen.count() == 0, "an absent term matches no documents")
  }

  test("duplicate query ids and non-integral doc ids are rejected loudly") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.retrieval.Bm25.bm25TopK(docs, col("doc_id"), col("text"),
        Seq(1L -> Seq("a"), 1L -> Seq("b")), k = 3)
    }
    val uuidDocs = Seq(("u-1", "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.retrieval.Bm25.bm25TopK(uuidDocs, col("doc_id"), col("text"),
        Seq(1L -> Seq("a")), k = 3)
    }
  }
}
