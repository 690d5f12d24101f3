package graft

import org.apache.spark.sql.functions._

import graft.plans.LinkParsing

/** The link-graph tier: RFC 3986 §5 reference resolution against the
  * spec's OWN §5.4 test vectors, link/robots-meta extraction,
  * [[graft.pipeline.WebCuration.linkGraph]] edge semantics, and
  * [[graft.pipeline.LinkRank.integerPageRank]] — checked against a
  * by-hand-computable graph, an independent imperative reference, and
  * the mass-conservation property integer floor division must keep
  * within n truncations.
  */
class LinkGraphSpec extends SparkTestBase {
  import spark.implicits._

  test("RFC 3986 §5.4.1 normal reference-resolution examples") {
    val base = "http://a/b/c/d;p?q"
    // the spec's table, minus fragment-carrying results (a crawler never
    // fetches fragments — resolve() strips them; same-document refs null)
    val cases = Seq(
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x",
      "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/",
      ".." -> "http://a/b/",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../.." -> "http://a/",
      "../../" -> "http://a/",
      "../../g" -> "http://a/g")
    cases.foreach { case (ref, want) =>
      assert(LinkParsing.resolve(base, ref) == want, s"resolve($base, $ref)")
    }
    // fragment handling: same-document refs are null, fragments strip
    assert(LinkParsing.resolve(base, "#s") == null)
    assert(LinkParsing.resolve(base, "g#s") == "http://a/b/c/g")
  }

  test("RFC 3986 §5.4.2 abnormal examples: dot-segment excess, odd forms") {
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "../../../g" -> "http://a/g",
      "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g",
      "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.",
      ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..",
      "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g",
      "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h",
      "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      "http:g" -> "http:g")
    cases.foreach { case (ref, want) =>
      assert(LinkParsing.resolve(base, ref) == want, s"resolve($base, $ref)")
    }
    assert(LinkParsing.resolve("not-absolute", "g") == null, "relative base refuses")
  }

  test("resolve_url agrees with java.net.URI.resolve over seeded relative refs") {
    // the JDK resolver is the independent reference; the generator stays
    // inside the territory where RFC 2396 (JDK) and RFC 3986 (ours) agree:
    // up-traversals never exceed the base depth (2396 KEEPS excess leading
    // '..', 3986 drops them — the §5.4.2 abnormal cases, pinned separately
    // above), refs are non-empty and not query/fragment-only (known JDK
    // divergence), no scheme-carrying refs ('http:g' — 3986 strict vs the
    // JDK's backwards-compatible merge)
    val rnd = new scala.util.Random(20260817L)
    val segs = Vector("x", "y9", "img2", "a-b", "q_r", "page.html")
    (0 until 500).foreach { _ =>
      val depth = 1 + rnd.nextInt(3)
      val base = "http://host.example" +
        (0 until depth).map(_ => "/" + segs(rnd.nextInt(segs.length))).mkString +
        "/leaf" + (if (rnd.nextBoolean()) "?k=v" else "")
      val ups = rnd.nextInt(depth + 1)
      val ref = (if (rnd.nextBoolean() && ups == 0) "./" else "") +
        ("../" * ups) +
        (0 to rnd.nextInt(2)).map(_ => segs(rnd.nextInt(segs.length))).mkString("/") +
        (if (rnd.nextBoolean()) "/" else "") +
        (if (rnd.nextBoolean()) "?a=1&b=2" else "")
      val ours = LinkParsing.resolve(base, ref)
      val jdk = java.net.URI.create(base).resolve(ref).toString
      assert(ours == jdk, s"resolve($base, $ref): ours=$ours jdk=$jdk")
    }
  }

  test("extract_links: quoting forms, inline markup anchors, missing href, entities") {
    val html =
      """<body><a href="https://x.example/a&amp;b">one</a>
        |<a href='re/l' rel='nofollow sponsored'><b>two</b> words</a>
        |<a href=bare>three</a>
        |<a name="target-only">not a link</a></body>""".stripMargin
    val links = LinkParsing.links(html)
    assert(links.map(_.href) == Seq("https://x.example/a&b", "re/l", "bare"))
    assert(links.map(_.anchor) == Seq("one", "two words", "three"))
    assert(links(1).rel == "nofollow sponsored" && links(0).rel == null)
  }

  test("robots_meta: vocabulary, none, union of multiple tags, attribute order") {
    assert(LinkParsing.robotsMeta("""<meta name="robots" content="noindex, nofollow">""") ==
      ((true, true)))
    assert(LinkParsing.robotsMeta("""<meta name=robots content=none>""") == ((true, true)))
    assert(LinkParsing.robotsMeta("""<meta content="nofollow" name="robots">""") ==
      ((false, true)))
    assert(LinkParsing.robotsMeta(
      """<meta name="robots" content="noindex"><meta name="robots" content="nofollow">""") ==
      ((true, true)), "multiple tags union — restrictive wins")
    assert(LinkParsing.robotsMeta("""<meta name="viewport" content="nofollow">""") ==
      ((false, false)), "only robots-named metas count")
  }

  test("linkGraph: page nofollow kills all edges, rel token must match exactly") {
    val pages = Seq(
      ("https://s.example/dir/page", "<a href=\"x\" rel=\"nofollowish\">a</a>" +
        "<a href=\"y\" rel=\"noopener nofollow\">b</a><a href=\"z\">c</a>"),
      ("https://s.example/meta/page",
        "<meta name=\"robots\" content=\"nofollow\"><a href=\"w\">d</a>")
    ).toDF("url", "html")
    val kept = graft.pipeline.WebCuration.linkGraph(pages, col("url"), col("html"))
      .select("dst").as[String].collect().toSet
    // 'nofollowish' is NOT nofollow (token membership, not substring);
    // the meta page contributes nothing
    assert(kept == Set("https://s.example/dir/x", "https://s.example/dir/z"))
    val flagged = graft.pipeline.WebCuration.linkGraph(
        pages, col("url"), col("html"), honorNofollow = false)
      .where(col("nofollow")).select("dst").as[String].collect().toSet
    assert(flagged == Set("https://s.example/dir/y", "https://s.example/meta/w"))
  }

  test("integerPageRank: hand-computed 3-node graph, dangling mass, determinism") {
    // A -> B, A -> C, B -> C; C dangles. scale 1000, d = 85/100, n = 3.
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C")).toDF("src", "dst")
    def ranksOf(iters: Int): Map[String, Long] =
      graft.pipeline.LinkRank.integerPageRank(edges, iters, scale = 1000L)
        .as[(String, Long)].collect().toMap
    // by hand, iteration 1: r0 = 333 each; dangling = C = 333,
    // dShare = 333*85/300 = 94 (floor), base = 1000*15/300 = 50;
    // contrib A->B = A->C = (333*85)/(100*2) = 141; B->C = (333*85)/100 = 283
    // r1: A = 50+94 = 144, B = 144+141 = 285, C = 144+141+283 = 568
    assert(ranksOf(1) == Map("A" -> 144L, "B" -> 285L, "C" -> 568L))
    // conservation: total mass stays within n floor-truncations per term
    val r5 = ranksOf(5)
    assert(math.abs(r5.values.sum - 1000L) <= 5 * 3 * 3,
      s"mass drifted past truncation bounds: $r5")
    // bit-exact across runs and partitionings
    val again = graft.pipeline.LinkRank.integerPageRank(
      edges.repartition(7), 5, scale = 1000L).as[(String, Long)].collect().toMap
    assert(again == r5, "integer PageRank must not depend on partitioning")
    // the sink node outranks the hub, the source ranks lowest
    assert(r5("C") > r5("B") && r5("B") > r5("A"))
  }

  test("integerPageRank matches an independent imperative reference on a random graph") {
    val rnd = new scala.util.Random(20260816L)
    val n = 40
    val es = (0 until 120).map(_ => (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")).distinct
    val got = graft.pipeline.LinkRank.integerPageRank(
      es.toDF("src", "dst"), iterations = 6).as[(String, Long)].collect().toMap
    // r21: collectThreshold=0 forces the distributed RDD loop; it must be
    // bit-identical to the driver-local fast path the default takes (the
    // CC local-vs-distributed pin, applied to PageRank)
    val dist = graft.pipeline.LinkRank.integerPageRank(
      es.toDF("src", "dst"), iterations = 6, collectThreshold = 0L)
      .as[(String, Long)].collect().toMap
    assert(dist == got, "distributed RDD loop diverged from the local fast path")
    // reference: same integer recurrence, plain Scala maps
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nn = nodes.size.toLong
    val scale = 1000000000000L
    val base = scale * 15 / (100 * nn)
    var rank = nodes.map(_ -> scale / nn).toMap
    for (_ <- 1 to 6) {
      val dangling = nodes.filterNot(out.contains).map(rank).sum
      val dShare = dangling * 85 / (100 * nn)
      val contrib = es.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) => rank(src) * 85 / (100 * out(src)) }.sum
      }
      rank = nodes.map(v => v -> (base + dShare + contrib.getOrElse(v, 0L))).toMap
    }
    assert(got == rank, "distributed integer PageRank diverged from the local reference")
  }

  test("integerPageRank's distributed loop: input computed once, lineage bounded over 100 iterations") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // a DataFrame over an uncached RDD: every scan of it recomputes the
    // source, which the accumulator counts row by row
    val computed = spark.sparkContext.longAccumulator("pagerank-source-rows")
    val rnd = new scala.util.Random(20261019L)
    // duplicate edges included: the dedup sits between the source and the pin
    val es = (0 until 150).map(_ => (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
    val rows = spark.sparkContext.parallelize(es, 4).map { case (s, d) =>
      computed.add(1L); Row(s, d)
    }
    val edges = spark.createDataFrame(rows,
      StructType(Seq(StructField("src", StringType), StructField("dst", StringType))))
    def ranks(iterations: Int) = graft.pipeline.LinkRank.integerPageRank(
      edges, iterations = iterations, collectThreshold = 0L)
    val dist = ranks(100)
    val got = dist.as[(String, Long)].collect().toMap
    assert(computed.value == es.size, s"${es.size} source rows computed ${computed.value} times")
    assert(got == graft.pipeline.LinkRank.integerPageRank(es.toDF("src", "dst"), iterations = 100)
      .as[(String, Long)].collect().toMap,
      "distributed RDD loop diverged from the local fast path at 100 iterations")
    def depth(df: org.apache.spark.sql.DataFrame): Int = {
      val memo = scala.collection.mutable.Map.empty[Int, Int]
      def go(r: org.apache.spark.rdd.RDD[_]): Int =
        memo.getOrElseUpdate(r.id, 1 + r.dependencies.map(d => go(d.rdd)).maxOption.getOrElse(0))
      go(df.rdd)
    }
    // the loop checkpoints every CheckpointEvery iterations, so 100 of them
    // leave no deeper a lineage than one uncheckpointed stretch
    val window = ranks(graft.pipeline.LinkRank.CheckpointEvery)
    assert(depth(dist) <= depth(window),
      s"lineage grew with the iterations: ${depth(dist)} > ${depth(window)}")
  }
}
