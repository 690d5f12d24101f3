package graft

import java.io.{File, FileOutputStream, RandomAccessFile}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.sources.kafkalike.BrokerLog
import graft.sources.jsonl.GraftJsonl

/** Seeded multi-writer concurrency fuzz for the two file-backed media.
  * BrokerLogSpec / GraftJsonlSourceSpec assert the atomicity invariants
  * (hard-link offset claims, create-only high-water markers, O_APPEND
  * whole-line writes, torn-tail invisibility) mostly SINGLE-threaded; the
  * r13 hardenings in this area (atomic `.partitions`, deleteIfExists
  * retention races, hint-anchor checks — BrokerLog.scala:19-22,74-84,
  * 177-185) were found by inspection. This spec races the claims for real:
  * concurrent producers + a retention sweeper + an active reader over
  * randomized interleavings, 100+ seeds per medium, asserting no offset is
  * ever lost, duplicated, torn, or regressed.
  *
  * Replay a failing seed with (tests fork, so the property must reach the
  * forked JVM):
  * {{{ sbt 'set Test/javaOptions += "-Dgraft.fuzz.seed=<base>"' \
  *       "testOnly graft.ConcurrencyChaosSpec" }}}
  */
class ConcurrencyChaosSpec extends SparkTestBase {

  private val seed = sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(20260815L)

  /** Run `bodies` each on its own thread; rethrow the first failure. */
  private def race(bodies: Seq[() => Unit]): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.zipWithIndex.map { case (b, i) =>
      val t = new Thread(
        () => try b() catch { case e: Throwable => errors.add(e) },
        s"chaos-$i")
      t.start(); t
    }
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "chaos thread wedged past 120s — deadlock?")
    if (!errors.isEmpty) throw errors.peek()
  }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(); ()
  }

  // ---------------------------------------------------------------- broker

  test(s"BrokerLog: racing producers/retention/reader, 100 seeds (base $seed)") {
    info(s"fuzz seed base: $seed")
    (0 until 100).foreach(i => brokerIteration(seed + i))
  }

  private def brokerIteration(s: Long): Unit = {
    val rnd = new Random(s)
    val root = tempDir("chaos-broker")
    val topic = "chaos"
    val nParts = 1 + rnd.nextInt(2)
    val nProducers = 3
    val perProducer = 16
    BrokerLog.createTopic(root, topic, nParts)

    // (partition, offset) -> every producer that claimed it. A slot with
    // two claimants is a duplicate hard-link claim — legal ONLY for the
    // medium's documented truncation TOCTOU (produce's anchor check racing
    // a truncation that frees the slot: BrokerLog.produce scaladoc), i.e.
    // only below a truncation cut; anywhere else it is the exact bug the
    // createLink scheme exists to prevent. Verified post-mortem.
    val claims = new ConcurrentHashMap[(Int, Long), List[String]]()
    val maxTruncate = Array.fill(nParts)(new AtomicLong(0L))
    val liveProducers = new AtomicInteger(nProducers)

    // plans fixed up front: the shared Random is not thread-safe
    val plans = Seq.tabulate(nProducers) { pid =>
      Seq.tabulate(perProducer)(seq => (rnd.nextInt(nParts), s"$pid:$seq", rnd.nextInt(3) == 0))
    }
    val producers = plans.zipWithIndex.map { case (plan, pid) => () => {
      try {
        val hints = Array.fill(nParts)(-1L)
        plan.foreach { case (p, tag, noHint) =>
          val rec = BrokerLog.Record(
            tag.getBytes(StandardCharsets.UTF_8),
            s"payload-$tag-p$p".getBytes(StandardCharsets.UTF_8),
            1000L + pid, Seq("dt_tag" -> tag.getBytes(StandardCharsets.UTF_8)))
          val off = BrokerLog.produce(root, topic, p, rec, hint = if (noHint) -1L else hints(p))
          hints(p) = off + 1
          claims.merge((p, off), List(tag), _ ++ _)
        }
      } finally liveProducers.decrementAndGet()
    }}

    val sweeper = () => {
      val r = new Random(s ^ 0x5eed)
      while (liveProducers.get() > 0) {
        val p = r.nextInt(nParts)
        val (earliest, latest) = BrokerLog.offsetRange(root, topic, p)
        if (latest > earliest) {
          val cut = earliest + 1 + r.nextLong(latest - earliest)
          BrokerLog.truncateBefore(root, topic, p, cut)
          maxTruncate(p).accumulateAndGet(cut, math.max(_, _))
        }
        Thread.`yield`()
      }
    }

    val reader = () => {
      val lastLatest = Array.fill(nParts)(0L)
      while (liveProducers.get() > 0) {
        (0 until nParts).foreach { p =>
          val (earliest, latest) = BrokerLog.offsetRange(root, topic, p)
          assert(earliest <= latest, s"seed $s: p$p range inverted ($earliest, $latest)")
          assert(latest >= lastLatest(p),
            s"seed $s: p$p log-end regressed ${lastLatest(p)} -> $latest")
          lastLatest(p) = latest
          // every record readable mid-race decodes intact (a torn or
          // half-linked file would throw or mismatch here)
          BrokerLog.read(root, topic, p, earliest, latest).foreach { case (off, rec) =>
            val tag = new String(rec.key, StandardCharsets.UTF_8)
            assert(new String(rec.value, StandardCharsets.UTF_8) == s"payload-$tag-p$p",
              s"seed $s: torn record at p$p/$off")
          }
        }
        Thread.`yield`()
      }
    }

    race(producers :+ sweeper :+ reader)

    // post-mortem invariants, quiesced
    (0 until nParts).foreach { p =>
      val mine = claims.asScala.collect { case ((`p`, off), tags) => off -> tags }.toMap
      val claimed = mine.keys.toSeq.sorted
      val cut = maxTruncate(p).get()
      // offsets are DENSE: hard-link losers step to the next slot, so the
      // claimed set per partition must be exactly [0, max]
      if (claimed.nonEmpty)
        assert(claimed == (0L to claimed.max),
          s"seed $s: p$p claimed offsets not dense: $claimed")
      // a duplicated claim is legal ONLY below a truncation cut (the
      // documented anchor-check TOCTOU); at or above the deepest cut every
      // slot must have exactly one claimant
      mine.foreach { case (off, tags) =>
        assert(tags.size == 1 || off < cut,
          s"seed $s: offset p$p/$off (>= truncation $cut) claimed by $tags")
      }
      val survivors = BrokerLog.read(root, topic, p, 0L, Long.MaxValue).toMap
      // nothing at/above the deepest truncation may be lost, and every
      // surviving record must carry one claimer's exact payload
      claimed.filter(_ >= cut).foreach { off =>
        assert(survivors.contains(off),
          s"seed $s: record p$p/$off (>= truncation $cut) lost")
      }
      survivors.foreach { case (off, rec) =>
        val tags = mine.getOrElse(off, Nil)
        val tag = new String(rec.key, StandardCharsets.UTF_8)
        assert(tags.contains(tag) &&
            new String(rec.value, StandardCharsets.UTF_8) == s"payload-$tag-p$p",
          s"seed $s: record p$p/$off ($tag) does not match its claimants $tags")
      }
      // the persisted log-end equals the deepest claim + 1 — no bump was
      // lost to the marker-prune race and none overshot
      val (_, latest) = BrokerLog.offsetRange(root, topic, p)
      val expectedEnd = claimed.lastOption.map(_ + 1).getOrElse(0L)
      assert(latest == expectedEnd,
        s"seed $s: p$p log-end $latest != deepest claim + 1 ($expectedEnd)")
    }
    deleteRec(new File(root))
  }

  test(s"BrokerLog: racing topic expansion/creation vs producers/readers, 100 seeds (base $seed)") {
    info(s"fuzz seed base: $seed")
    (0 until 100).foreach(i => expandIteration(seed + i))
  }

  /** Races the metadata invariants comments assert but no spec raced:
    * `.partitions` lands via atomic rename (a reader must never see a torn/
    * empty count), partition counts only grow, and directories are created
    * BEFORE the count advertises them — so a producer that reads count N
    * can produce to partition N-1 immediately, with no window where the
    * advertised partition's directory is missing.
    */
  private def expandIteration(s: Long): Unit = {
    val root = tempDir("chaos-expand")
    val topic = "grow"
    val target = 9
    // concurrent idempotent creation: both racers must succeed and agree
    race(Seq.fill(3)(() => BrokerLog.createTopic(root, topic, 1)))
    assert(BrokerLog.partitionCount(root, topic) == 1, s"seed $s: created count off")

    val done = new AtomicInteger(0)
    val expander = () => {
      try (2 to target).foreach { n =>
        BrokerLog.expandTopic(root, topic, n)
        Thread.`yield`()
      } finally { done.incrementAndGet(); () }
    }
    // produce to the HIGHEST advertised partition the instant it appears:
    // if meta ever advertised a partition before its directory existed,
    // produce()'s directory require would throw
    val prod = (pid: Int) => () => {
      try {
        var seq = 0
        while (done.get() == 0 || seq < 8) {
          val n = BrokerLog.partitionCount(root, topic)
          val rec = BrokerLog.Record(
            s"$pid:$seq".getBytes(StandardCharsets.UTF_8),
            s"v$seq".getBytes(StandardCharsets.UTF_8), 1L, Nil)
          BrokerLog.produce(root, topic, n - 1, rec)
          seq += 1
          Thread.`yield`()
        }
      } finally { done.incrementAndGet(); () }
    }
    val reader = () => {
      var last = 1
      while (done.get() < 3) {
        // a torn `.partitions` read would throw from "".toInt here
        val n = BrokerLog.partitionCount(root, topic)
        assert(n >= last && n <= target, s"seed $s: partition count went $last -> $n")
        last = n
        // every advertised partition answers offsetRange (directory exists)
        (0 until n).foreach(p => BrokerLog.offsetRange(root, topic, p))
        Thread.`yield`()
      }
    }
    race(Seq(expander, prod(0), prod(1), reader))
    assert(BrokerLog.partitionCount(root, topic) == target, s"seed $s: final count off")
    deleteRec(new File(root))
  }

  // ----------------------------------------------------------------- jsonl

  test(s"GraftJsonl: racing appenders/torn-writer/deleter/reader, 100 seeds (base $seed)") {
    info(s"fuzz seed base: $seed")
    (0 until 100).foreach(i => jsonlIteration(seed + i))
  }

  private def jsonlIteration(s: Long): Unit = {
    val rnd = new Random(s)
    val dir = tempDir("chaos-jsonl")
    val nAppenders = 3
    val perAppender = 12
    val tornLines = 8
    val nIdle = 2

    // retirement candidates present before the run (the retention-sweep
    // analog: files vanishing under an active reader)
    val idleLines = (0 until nIdle).map { i =>
      val lines = Seq.tabulate(3)(j => s"""{"f":"idle$i","n":$j}""")
      GraftJsonl.append(dir, s"idle$i.jsonl", lines)
      s"idle$i.jsonl" -> lines
    }.toMap

    val liveWriters = new AtomicInteger(nAppenders + 1)

    // whole-line appenders share ONE file: each append() call is a single
    // O_APPEND write of complete lines, so no interleaving may tear a line
    val appenders = (0 until nAppenders).map { id => () =>
      try (0 until perAppender).foreach { seq =>
        GraftJsonl.append(dir, "shared.jsonl", Seq(s"""{"w":$id,"n":$seq}"""))
      } finally { liveWriters.decrementAndGet(); () }
    }

    // torn writer owns its file: every line lands as partial-no-newline
    // first, then the remainder + newline — the tail contract says the
    // partial stays INVISIBLE until terminated
    val torn = () => {
      try {
        val r = new Random(s ^ 0x70e4)
        (0 until tornLines).foreach { seq =>
          val line = s"""{"t":true,"n":$seq,"pad":"${"x" * (1 + r.nextInt(40))}"}"""
          val cut = 1 + r.nextInt(line.length - 1)
          val out = new FileOutputStream(new File(dir, "torn.jsonl"), true)
          try out.write(line.substring(0, cut).getBytes(StandardCharsets.UTF_8))
          finally out.close()
          Thread.`yield`()
          val out2 = new FileOutputStream(new File(dir, "torn.jsonl"), true)
          try out2.write((line.substring(cut) + "\n").getBytes(StandardCharsets.UTF_8))
          finally out2.close()
        }
      } finally { liveWriters.decrementAndGet(); () }
    }

    val deleter = () => {
      val r = new Random(s ^ 0xde1e7e)
      (0 until nIdle).foreach { i =>
        (0 until 1 + r.nextInt(50)).foreach(_ => Thread.`yield`())
        Files.deleteIfExists(new File(dir, s"idle$i.jsonl").toPath); ()
      }
    }

    // every line any writer may produce, for membership checks
    val universe: Set[String] =
      (for (id <- 0 until nAppenders; seq <- 0 until perAppender)
        yield s"""{"w":$id,"n":$seq}""").toSet ++
      idleLines.values.flatten ++
      // torn lines vary by pad length; accept by shape instead
      Set.empty[String]
    def isTornLine(l: String): Boolean =
      l.matches("""\{"t":true,"n":\d+,"pad":"x+"\}""")

    val reader = () => {
      val positions = scala.collection.mutable.Map.empty[String, Long]
      val seenPerFile = scala.collection.mutable.Map.empty[String, Int]
      while (liveWriters.get() > 0) {
        graft.sources.FileTail.listFiles(dir, Seq(".jsonl")).foreach { f =>
          try {
            val complete = GraftJsonl.completeLength(f)
            val last = positions.getOrElse(f.getName, 0L)
            assert(complete >= last,
              s"seed $s: ${f.getName} complete-length regressed $last -> $complete")
            if (complete > last) {
              val raf = new RandomAccessFile(f, "r")
              val buf = new Array[Byte]((complete - last).toInt)
              try { raf.seek(last); raf.readFully(buf) } finally raf.close()
              val chunk = new String(buf, StandardCharsets.UTF_8)
              assert(chunk.endsWith("\n"),
                s"seed $s: ${f.getName} complete-length $complete not a line boundary")
              chunk.stripSuffix("\n").split("\n", -1).foreach { line =>
                assert(universe.contains(line) || isTornLine(line),
                  s"seed $s: torn/foreign line surfaced in ${f.getName}: '$line'")
              }
              positions(f.getName) = complete
              seenPerFile(f.getName) =
                seenPerFile.getOrElse(f.getName, 0) + chunk.count(_ == '\n')
            }
          } catch {
            // the file vanished between listing and read — the deleter won;
            // same posture as the source's snapshotSafe
            case _: java.io.FileNotFoundException => ()
            case _: java.nio.file.NoSuchFileException => ()
          }
        }
        Thread.`yield`()
      }
    }

    race(appenders ++ Seq(torn, deleter, reader))

    // post-mortem: the shared file holds every appended line exactly once
    val shared = Files.readAllLines(new File(dir, "shared.jsonl").toPath).asScala
    val expected = for (id <- 0 until nAppenders; seq <- 0 until perAppender)
      yield s"""{"w":$id,"n":$seq}"""
    assert(shared.sorted == expected.sorted.toBuffer,
      s"seed $s: shared.jsonl lines lost/duplicated/torn " +
        s"(${shared.size} vs ${expected.size})")
    // the torn file reassembled every record exactly once, in order
    val tornAll = Files.readAllLines(new File(dir, "torn.jsonl").toPath).asScala
    assert(tornAll.size == tornLines && tornAll.forall(isTornLine) &&
        tornAll.map(l => l.split(""""n":""")(1).takeWhile(_.isDigit).toInt) ==
          (0 until tornLines).toBuffer,
      s"seed $s: torn.jsonl reassembly broken: $tornAll")
    deleteRec(new File(dir))
  }
}
