package graft.tools

/** Dev tool: train the unigram-LM vocabulary on a corpus and print it as a
  * Scala literal, for freezing into [[graft.ops.Unigram.Frozen]] (the
  * frozen vocab is what the gated queries encode with, and what the DuckDB
  * oracle replays). `runMain graft.tools.UnigramFreeze [sfDir] [vocabSize]`.
  */
object UnigramFreeze {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val vocabSize =
      if (args.length > 1) args(1).toInt else graft.ops.Unigram.FrozenVocabSize
    val spark = graft.GraftSession.local(8)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val vocab = graft.ops.Unigram.train(docs, "text", vocabSize)
    def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    println(s"  // ${vocab.size} pieces")
    println("  val Frozen: Seq[(String, Int)] = Seq(")
    println(vocab.grouped(4).map(g =>
      "    " + g.map { case (p, c) => s"""("${esc(p)}", $c)""" }
        .mkString(", ")).mkString(",\n") + ")")
    spark.stop()
    sys.exit(0)
  }
}
