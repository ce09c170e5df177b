package loadbench

import graft.CurationPipeline
import graft.operators.TableManifest
import org.apache.spark.sql.functions._

/** curation_batch: `CurationPipeline.runDocs` over a seeded corpus with
  * planted duplicates. Setup lands the corpus TSV as a parquet table
  * (`reps` times); `warm_calls` untimed calls precede `calls` timed ones,
  * each writing a fresh output directory. */
object Curation {
  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    val corpus = c.setupReps("corpus") { d =>
      spark.read.option("sep", "\t")
        .schema("doc_id LONG, source STRING, text STRING")
        .csv(s"${c.work}/corpus.tsv")
        .withColumn("n_chars", length(col("text")))
        .write.parquet(d)
      d
    }
    var last = ""
    def call(k: Int): Unit = {
      val out = s"${c.work}/out$k"
      rec.op("run_docs") {
        val counts = CurationPipeline.runDocs(spark, spark.read.parquet(corpus), out)
        c.answer(k, counts.map { case (n, v) => s"$n=$v" }.mkString(","))
        counts.toMap.getOrElse("written", 0L)
      }
      if (last.nonEmpty) Main.deleteTree(last)
      last = out
    }
    val warm = c.opt("warm_calls").toInt
    (0 until warm).foreach(call)
    c.mark("timed")
    rec.startTimed()
    (warm until warm + c.opt("calls").toInt).foreach(call)
    rec.endTimed()
    c.mark("checks")

    TableManifest.commitSnapshot(spark.read.parquet(last), s"${c.work}/out_fresh")
    c.out("space_amp") = Main.bytesUnder(last).toDouble /
      Main.bytesUnder(s"${c.work}/out_fresh")
    if (rec.trace) {
      val l = rec.layers(commits = Set.empty, reads = Set("run_docs"),
        selfTime = Seq("curation.run_docs_ms" -> Seq("run_docs")),
        extra = Map.empty)
      c.out("layers") = l + ("curation.jobs" -> l("sched.jobs_per_op"))
    }
  }
}
