package perfbench

import graft.sources.kafkalike.BrokerLog

/** Produce cost against partition depth, for the README's reference curve:
  * grows one broker partition record by record and reports the ms per 1,000
  * records of a slice of [[Slice]] records at each depth in `depths`.
  *
  * {{{
  *   java -cp "$(cat perfbench/target/classpath.txt)" perfbench.ProduceCurve <empty dir> [depths...]
  * }}}
  */
object ProduceCurve {
  val Slice = 250

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val depths = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(0, 1000, 2000, 4000, 8000)
    BrokerLog.createTopic(root, "curve", 1)
    var depth = 0
    depths.sorted.foreach { d =>
      if (d > depth) BrokerCycle.produceMsPer1k(root, "curve", d - depth)
      val ms = BrokerCycle.produceMsPer1k(root, "curve", Slice)
      depth = math.max(depth, d) + Slice
      println(f"depth $d%6d: $ms%9.1f ms per 1k records")
    }
  }
}
