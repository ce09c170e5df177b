package loadbench

import scala.jdk.CollectionConverters._

import graft.operators.{IncrementalAgg, SearchIndex, TableManifest}
import graft.operators.TableManifest.{MergeInsert, MergeMatched}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** lakehouse_cycles: the ingest-cycle write path on a versioned document
  * table with a maintained aggregate view and a synced search index.
  *
  * Setup commits the initial snapshot, its pruning artifacts, the index
  * and the view (`reps` times). The plan's cycles before `timed_from` are
  * the untimed warm-up; the rest are timed. */
object Lake {
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("cycle", IntegerType),
    StructField("source", StringType), StructField("text", StringType),
    StructField("n_chars", IntegerType)))

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    val docs = Main.lines(c.work, "docs.tsv").map { l =>
      val f = l.split("\t", 4)
      Row(f(0).toLong, f(1).toInt, f(2), f(3), f(3).length)
    }
    def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)
    val plan = Main.lines(c.work, "plan.tsv")
    val snap = plan.head.split("\t")

    val dir = c.setupReps("lake") { d =>
      TableManifest.commitSnapshot(
        frame(docs.slice(snap(1).toInt, snap(2).toInt)), s"$d/docs")
      maintain(spark, s"$d/docs")
      SearchIndex.build(TableManifest.read(spark, s"$d/docs"), "doc_id",
        "text", s"$d/index")
      IncrementalAgg.maintainTable(spark, s"$d/docs", s"$d/view",
        Seq("source"), "n_chars")
      d
    }
    val (t, v, ix) = (s"$dir/docs", s"$dir/view", s"$dir/index")
    var synced = TableManifest.versions(spark, t).last
    val bm25Terms = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]

    def exec(i: Int, line: String): Unit = {
      val f = line.split("\t")
      def ans(n: Long): Long = { c.answer(i, n.toString); n }
      f(0) match {
        case op @ ("append" | "replay") => rec.op(op) {
          TableManifest.append(frame(docs.slice(f(2).toInt, f(3).toInt)), t,
            batchId = Some(f(1).toLong))
          0
        }
        case "delete" => rec.op("delete") {
          TableManifest.deleteWhere(spark, t, f(1)); 0
        }
        case "update" => rec.op("update") {
          TableManifest.updateWhere(spark, t, f(1), Seq(f(2) -> f(3))); 0
        }
        case "merge" =>
          val hits = f(1).split(",").map { h =>
            Row(h.toLong, -1, "", "", 7 + (h.toLong % 50).toInt)
          }
          val source = frame(hits.toSeq ++ docs.slice(f(2).toInt, f(3).toInt))
          rec.op("merge") {
            TableManifest.mergeWhere(spark, t, source, Seq("doc_id"),
              Seq(MergeMatched("update", None,
                Some(Seq("n_chars" -> "__s.n_chars")))),
              Seq(MergeInsert(None)))
            0
          }
        case "fold" => rec.op("fold") {
          IncrementalAgg.maintainTable(spark, t, v, Seq("source"), "n_chars"); 0
        }
        case "sync" => rec.op("sync") {
          val cur = TableManifest.versions(spark, t).last
          SearchIndex.syncFromTable(spark, t, ix, synced, cur, "doc_id", "text")
          synced = cur
          0
        }
        case "range" => rec.op("range") {
          ans(TableManifest.readRange(spark, t,
            Seq(("doc_id", f(1).toLong, f(2).toLong))).count())
        }
        case "point" => rec.op("point") {
          ans(TableManifest.readPointString(spark, t, "source", Seq(f(1)))
            .count())
        }
        case "count" => rec.op("count") {
          ans(TableManifest.countRows(spark, t)); 1
        }
        case "bm25" =>
          val terms = f(1).split(" ").toSeq
          bm25Terms += terms
          rec.op("bm25") {
            SearchIndex.bm25Pruned(spark, ix, terms, 10).collect().length
          }
        case "maintain" => rec.op("maintain") { maintain(spark, t); 0 }
      }
    }

    val timedFrom = c.opt("timed_from").toInt
    plan.indices.slice(1, timedFrom).foreach(i => exec(i, plan(i)))
    c.mark("timed")
    rec.startTimed()
    plan.indices.drop(timedFrom).foreach(i => exec(i, plan(i)))
    rec.endTimed()
    c.mark("checks")

    // untimed output checks: table and view against the plan's model (in
    // run.py), the synced index against a fresh build
    val table = TableManifest.read(spark, t)
    val agg = table.agg(count(lit(1)), countDistinct(col("doc_id")),
      sum(col("n_chars"))).head()
    val view = TableManifest.read(spark, v).drop("__asof").collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getDecimal(2).longValue}")
      .sorted
    SearchIndex.build(table, "doc_id", "text", s"${c.work}/index_fresh")
    val indexOk = bm25Terms.takeRight(3).forall { terms =>
      SearchIndex.bm25(spark, ix, terms, 20).collect().toSeq ==
        SearchIndex.bm25(spark, s"${c.work}/index_fresh", terms, 20)
          .collect().toSeq
    }
    c.out("checks") = Map(
      "rows" -> agg.getLong(0), "distinct_ids" -> agg.getLong(1),
      "sum_chars" -> agg.getLong(2), "view" -> view.mkString(" "),
      "index_equals_fresh_build" -> indexOk)
    TableManifest.commitSnapshot(table, s"${c.work}/docs_fresh")
    c.out("space_amp") = Main.bytesUnder(t).toDouble /
      Main.bytesUnder(s"${c.work}/docs_fresh")
    if (rec.trace)
      c.out("layers") = rec.layers(
        commits = Set("append", "replay", "delete", "update", "merge"),
        reads = Set("range", "point", "count", "bm25"),
        selfTime = Seq("manifest.append_ms" -> "append",
          "manifest.delete_ms" -> "delete", "manifest.update_ms" -> "update",
          "manifest.merge_ms" -> "merge", "manifest.maintain_ms" -> "maintain",
          "manifest.read_range_ms" -> "range",
          "manifest.count_rows_ms" -> "count",
          "index.view_fold_ms" -> "fold", "index.search_sync_ms" -> "sync",
          "index.bm25_ms" -> "bm25").map { case (m, c) => m -> Seq(c) },
        extra = Map.empty)
  }

  /** The maintenance a deployment runs: fold the batch log, refresh zone
    * maps and Bloom filters, keep four versions. */
  private def maintain(spark: org.apache.spark.sql.SparkSession,
      t: String): Unit =
    TableManifest.maintain(spark, t, maxBatches = 8, keepVersions = 4,
      statsCols = Seq("doc_id"), bloomCols = Seq("source")).collect()
}
