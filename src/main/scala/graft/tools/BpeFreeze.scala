package graft.tools

/** Regenerates [[graft.text.Bpe.FrozenMerges]]: trains BPE on the
  * given corpus dir and prints the merge list as the Scala literal to
  * paste into Bpe.scala. The frozen list is a deployable tokenizer
  * artifact (trained once, then applied to any corpus — how BPE
  * tokenizers ship in practice); this main is its provenance.
  *
  * Usage: sbt "runMain graft.tools.BpeFreeze /root/testdata/sf0.01 12"
  */
object BpeFreeze {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val n = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = graft.util.Sessions.build(dir)
    val merges = graft.text.Bpe.learnBpe(spark, dir, nMerges = n)
    println("  val FrozenMerges: Seq[Merge] = Seq(")
    merges.foreach { m =>
      def q(s: String) = "\"" + s.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\""
      println(s"    Merge(${m.rank}, ${q(m.left)}, ${q(m.right)}),")
    }
    println("  )")
    spark.stop()
  }
}
