package loadbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's executor: one JVM that starts a Spark session, runs one
  * workload's setup, warm-up and timed phase against the inputs in the
  * work directory, and writes `result.json` and `answers.tsv` there for
  * `run.py` to check and summarize.
  *
  * Usage: loadbench.Main key=value... with keys workload, work, cores,
  * trace (0|1), reps (setup repetitions) and the workload's own keys. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("loadbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    if (trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace)
      require(org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).isInstanceOf[CountingLocalFileSystem],
        "the counting filesystem is not the one the session resolves")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val rec = new Recorder(spark, trace, cores)
    val ctx = Ctx(spark, rec, work, opt)
    ctx.out("session_s") = sessionS
    opt("workload") match {
      case "fleet_serving" => Fleet.run(ctx)
      case "lakehouse_cycles" => Lake.run(ctx)
      case "curation_batch" => Curation.run(ctx)
    }
    ctx.out("timed_wall_s") = rec.wallS
    ctx.out("attempted") = rec.spans.size
    ctx.out("failed") = rec.spans.count(!_.ok)
    ctx.out("classes") = rec.classes
    ctx.out("peak_rss_mb") = peakRssMb()
    ctx.mark("done")
    ctx.out("marks") = ctx.marks
    Files.write(Paths.get(work, "answers.tsv"), ctx.answers.asJava)
    Files.write(Paths.get(work, "result.json"), Json(ctx.out).getBytes("UTF-8"))
    // everything the session wrote is under `work`, which run.py removes;
    // skipping the orderly shutdown saves seconds per run
    Runtime.getRuntime.halt(0)
  }

  /** Driver peak resident set (VmHWM); in local mode this includes the
    * executors. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** Bytes of every file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Files.size(p)).sum
    finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete(_: Path))
      finally s.close()
    }
  }

  def lines(work: String, name: String): Vector[String] =
    Files.readAllLines(Paths.get(work, name)).asScala.toVector
}

final case class Ctx(spark: SparkSession, rec: Recorder, work: String,
    opt: Map[String, String]) {
  /** Everything `result.json` reports, in insertion order. */
  val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val answers = scala.collection.mutable.ArrayBuffer.empty[String]
  def answer(tag: Any, a: String): Unit = answers += s"$tag\t$a"

  /** Seconds since JVM start at each named point of the run. */
  val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(name: String): Unit = marks(name) =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Time `reps` runs of a setup step, each into a fresh directory
    * `<work>/<name><r>`; earlier repetitions' directories are removed, the
    * last one's result is the standing state. */
  def setupReps[T](name: String)(step: String => T): T = {
    val reps = opt("reps").toInt
    mark("setup")
    val runs = (0 until reps).map { r =>
      val dir = s"$work/$name$r"
      val t0 = System.nanoTime()
      val res = step(dir)
      val t = (System.nanoTime() - t0) / 1e9
      if (r < reps - 1) Main.deleteTree(dir)
      (res, t)
    }
    out("setup_reps_s") = runs.map(_._2)
    mark("warmup")
    runs.last._1
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
