package perfbench

import org.apache.spark.sql.SparkSession

/** Checks that two seeds give each workload disjoint doc ids, distinct
  * texts and identical sizes (row counts and per-kind counts). Prints one
  * `check <workload> <property> ok|FAILED` line per property and exits
  * non-zero on any failure.
  *
  *   perfbench.SelfCheck --data perfbench/data/documents.parquet --seeds 1,2 */
object SelfCheck {
  /** (doc ids, texts, size signature) of one workload's inputs under a seed. */
  type Inputs = (Set[Any], Set[String], Seq[(String, Long)])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val Array(s1, s2) = args("seeds").split(",").map(_.toLong)
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selfcheck")
      .config("spark.ui.enabled", "false").getOrCreate()
    val rows = try Main.seedRows(spark, args("data")) finally spark.stop()
    val workloads: Seq[(String, Long => Inputs)] = Seq(
      "ingest_resume" -> { seed =>
        val docs = IngestResume.docs(seed, rows).map(_._2).toSeq
        (docs.map(_.doc_id: Any).toSet, docs.map(_.spans.map(_.text).mkString("\n")).toSet,
          Seq("docs" -> docs.size.toLong, "mega" -> docs.count(_.spans.size > 200).toLong))
      },
      "curate_corpus" -> { seed =>
        val docs = CurateCorpus.docs(seed, rows)
        (docs.map(_._1: Any).toSet, docs.map(_._2).toSet, Seq("docs" -> docs.size.toLong))
      },
      "curate_stream" -> { seed =>
        val corpus = CurateStream.corpus(seed, rows)
        val shards = CurateStream.shards(seed, rows)
        ((corpus.map(_._1) ++ shards.map(_._2)).map(x => x: Any).toSet,
          (corpus.map(_._2) ++ shards.map(_._3)).toSet,
          Seq("corpus" -> corpus.size.toLong) ++
            shards.groupBy(_._6).toSeq.sortBy(_._1).map { case (k, v) => k -> v.size.toLong })
      })
    var ok = true
    for ((name, gen) <- workloads) {
      val (ids1, texts1, size1) = gen(s1)
      val (ids2, texts2, size2) = gen(s2)
      for ((prop, pass) <- Seq(
        "ids_disjoint" -> (ids1 intersect ids2).isEmpty,
        "texts_distinct" -> (texts1 intersect texts2).isEmpty,
        "sizes_equal" -> (size1 == size2))) {
        println(s"check $name $prop ${if (pass) "ok" else "FAILED"}")
        ok &&= pass
      }
    }
    if (!ok) sys.exit(1)
  }
}
