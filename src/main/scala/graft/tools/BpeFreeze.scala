package graft.tools

/** Dev tool: train the BPE merge table on a corpus and print it as a Scala
  * literal, for freezing into [[graft.ops.Bpe.Frozen]] (the frozen set is
  * what the gated query encodes with, and what the DuckDB oracle replays).
  * `runMain graft.tools.BpeFreeze [sfDir] [numMerges] [topWords]`.
  */
object BpeFreeze {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val numMerges = if (args.length > 1) args(1).toInt else 100
    val topWords = if (args.length > 2) args(2).toInt else 5000
    val spark = graft.GraftSession.local(8)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.ops.Bpe.train(docs, "text", numMerges, topWords)
    val ordered = merges.ranks.toSeq.sortBy(_._2).map(_._1)
    def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c => c.toString
    }
    println("  val Frozen: Seq[(String, String)] = Seq(")
    println(ordered.grouped(3).map(g =>
      "    " + g.map { case (a, b) => s"""("${esc(a)}", "${esc(b)}")""" }
        .mkString(", ")).mkString(",\n") + ")")
    spark.stop()
    sys.exit(0)
  }
}
