package loadbench

import scala.jdk.CollectionConverters._

import graft.operators.TableManifest
import graft.telemetry.{Ingest, TelemetryQueries, Warehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** fleet_serving: a read-mostly serving path over an ingested fleet.
  *
  * Setup ingests the fleet CSV into a fresh warehouse (`reps` times, each
  * ingest also a `rows_per_s` sample). The
  * plan's lines before `timed_from` are the untimed warm-up, the rest the
  * timed operator questions: per-machine reads, fleet-wide reads, one
  * query-log append per question and periodic log maintenance. */
object Fleet {
  private val logCols = StructType(Seq(
    StructField("role", StringType), StructField("query", StringType),
    StructField("intent", StringType), StructField("confidence", DoubleType),
    StructField("machine_id", StringType),
    StructField("target_time_epoch", LongType)))

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    val ingestS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val (root, wh, q) = c.setupReps("wh") { dir =>
      val wh = new Warehouse(spark, dir)
      wh.init()
      val t0 = System.nanoTime()
      wh.insertTelemetry(Ingest.ingestCsv(spark, s"${c.work}/fleet.csv"))
      ingestS += (System.nanoTime() - t0) / 1e9
      (dir, wh, new TelemetryQueries(wh.table("telemetry")))
    }
    c.out("ingest_s") = ingestS
    val topk: Map[String, Int => DataFrame] = Map(
      "highestTemperature" -> q.highestTemperature,
      "highestHumidity" -> q.highestHumidity,
      "highestVibration" -> q.highestVibration,
      "highestFuel" -> q.highestFuel,
      "lowestTemperature" -> q.lowestTemperature,
      "lowestHumidity" -> q.lowestHumidity,
      "lowestVibration" -> q.lowestVibration,
      "lowestFuel" -> q.lowestFuel)
    val logPath = s"$root/user_query_log"

    def exec(i: Int, line: String): Unit = {
      val f = line.split("\t")
      def ans(a: String): Unit = c.answer(i, a)
      f(0) match {
        case "latest" => rec.op("latest") {
          val r = q.latestData(f(1), f(2).toInt).collect()
          ans(r.map(_.getAs[Long]("timestamp_epoch")).mkString(" "))
          r.length
        }
        case "range" => rec.op("range") {
          val r = q.dataInRange(f(1), f(2).toLong, f(3).toLong).collect()
            .map(_.getAs[Long]("timestamp_epoch"))
          ans(if (r.isEmpty) "0 - -" else s"${r.length} ${r.head} ${r.last}")
          r.length
        }
        case "stats" => rec.op("stats") {
          val r = q.machineStats(f(1)).collect().head
          ans((0 until 6).map(r.get).mkString(" "))
          1
        }
        case "byStatus" | "byStatusAll" => rec.op("status") {
          val r = q.machinesByStatus(f.lift(1)).collect()
          ans(r.map(x => s"${x.getString(0)}:${x.getAs[Long]("timestamp_epoch")}")
            .mkString(" "))
          r.length
        }
        case "log" => rec.op("log") {
          wh.insertQueryLog(spark.createDataFrame(Seq(Row(f(1), f(2), f(3),
            f(4).toDouble, f(5), f(6).toLong)).asJava, logCols))
          0
        }
        case "maintain" => rec.op("maintain") {
          TableManifest.maintain(spark, logPath, maxBatches = 8,
            keepVersions = 2).collect()
          0
        }
        case name => rec.op("topk") {
          val r = topk(name)(f(1).toInt).collect()
          ans(r.map(_.getString(0)).mkString(" "))
          r.length
        }
      }
    }

    val plan = Main.lines(c.work, "plan.tsv")
    val timedFrom = c.opt("timed_from").toInt
    plan.indices.take(timedFrom).foreach(i => exec(i, plan(i)))
    c.mark("timed")
    rec.startTimed()
    plan.indices.drop(timedFrom).foreach(i => exec(i, plan(i)))
    rec.endTimed()
    c.mark("checks")

    val log = wh.table("user_query_log")
    c.out("checks") = Map(
      "log_rows" -> log.count(),
      "log_ids" -> log.select("id").distinct().count())
    TableManifest.commitSnapshot(log, s"${c.work}/log_fresh")
    c.out("space_amp") = Main.bytesUnder(logPath).toDouble /
      Main.bytesUnder(s"${c.work}/log_fresh")
    if (rec.trace)
      c.out("layers") = rec.layers(
        commits = Set("log"),
        reads = Set("latest", "range", "stats", "topk", "status"),
        selfTime = Seq("telemetry.querylog_append_ms" -> Seq("log"),
          "telemetry.point_ms" -> Seq("latest", "range", "stats"),
          "telemetry.wide_ms" -> Seq("topk", "status"),
          "manifest.maintain_ms" -> Seq("maintain")),
        extra = Map("telemetry.ingest_ms" ->
          ingestS.sorted.apply(ingestS.size / 2) * 1000))
  }
}
