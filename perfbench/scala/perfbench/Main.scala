package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** Spans and labels of a traced run. Every call the benchmark makes into
  * the engine runs under a `perfbench.span` local property naming its span,
  * and the [[JobMeter]] files each Spark job under it. */
final class Tracer(spark: SparkSession) {
  val jobs = new JobMeter(spark.sparkContext)
  val phases = new WritePhases
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(phases)
  private val t0 = System.nanoTime()
  private val t0Wall = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]

  def label(l: String): Unit = spark.sparkContext.setLocalProperty(JobMeter.Label, l)
  def quiesce(): Unit = { jobs.quiesce(); jobs.dropFences() }
  private def ms(ns: Long): Double = (ns - t0) / 1e6

  def query(id: String, start: Long, built: Long, end: Long, e: BatchWorkload.Exec): Unit = {
    val planMs = BatchWorkload.planMs(e)
    val planEnd = built + (planMs * 1e6).toLong
    spans += Span(id, null, "query", ms(start), ms(end))
    spans += Span(s"$id/build", id, "build", ms(start), ms(built), Seq(
      "work" -> Json.Raw(e.build.json), "tables" -> Json.Raw(e.tables.json)))
    spans += Span(s"$id/plan", id, "plan", ms(built), ms(planEnd),
      e.phases.toSeq.sortBy(_._1))
    spans += Span(s"$id/exec", id, "exec", ms(planEnd), ms(end), Seq(
      "work" -> Json.Raw(e.exec.json)))
  }

  def trigger(part: String, b: StreamWorkload.Batch, w: Work): Unit = {
    val start = (b.startMs - t0Wall).toDouble
    spans += Span(s"$part/${b.id}", null, "trigger", start,
      start + b.durations.getOrElse("triggerExecution", 0L),
      b.durations.toSeq.sortBy(_._1) ++ Seq("rows" -> b.rows, "work" -> Json.Raw(w.json)))
  }

  def write(path: String): Unit =
    Files.writeString(Paths.get(path), spans.map(_.json).mkString("[\n", ",\n", "\n]\n"))
}

/** The benchmark's JVM side: sets the engine up, runs one workload, and
  * writes raw measurements as JSON for `run.py`, which checks outputs and
  * derives the reported metrics.
  *
  * Arguments (all `--key value`): workload kind (`batch` or `stream`),
  * data, out, seed, seconds, trace (0/1), cores, launch-ms (epoch ms at
  * which the JVM was launched); `members` for batch; `rate`, `warmup`,
  * `trigger-ms`, `closed-batch-rows`, `closed-batches`, `keys`,
  * `dup-share`, `dup-span`, `dedup-delay` for stream.
  */
object Main {

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = a("out")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sfDir = a("data")
    Files.createDirectories(Paths.get(out))

    // Setup, as a user pays it: session, first read of every table, and a
    // first query through whole-stage codegen.
    val spark = GraftSession.local(cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val setupMs = System.currentTimeMillis() - a("launch-ms").toLong

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val loadCallMs = tracer.map { tr =>
      Tables.all.map { t =>
        tr.label(s"setup/load/$t")
        val t0 = System.nanoTime()
        Tables.load(spark, sfDir, t)
        (System.nanoTime() - t0) / 1e6
      }.sum
    }
    tracer.foreach { tr => tr.label(null); tr.quiesce() }

    System.gc()
    val gc0 = LiveHeap.gcMs
    val body: Seq[(String, Any)] = a("kind") match {
      case "batch" =>
        val members = a("members").split(',').toSeq
        val (execs, failed) = BatchWorkload.run(spark, sfDir, members, seed,
          seconds, s"$out/check", tracer)
        Seq("execs" -> execs.map(e => Json.Raw(BatchWorkload.json(e))),
          "failed" -> failed)
      case "stream" =>
        val records = Records(seed, a("keys").toInt, a("dup-share").toDouble,
          a("dup-span").toInt)
        val r = StreamWorkload.run(spark, records, a("dedup-delay"), a("rate").toDouble,
          a("trigger-ms").toLong, a("warmup").toDouble, seconds, a("closed-batch-rows").toLong,
          a("closed-batches").toInt, cores, s"$out/checkpoints", tracer)
        tracer.foreach(_.quiesce())
        Seq("stream" -> Json.Raw(StreamReport.json(r, tracer)))
    }
    val result = Seq("setup_ms" -> setupMs, "cores" -> cores,
      "heap_live_mb" -> LiveHeap.peakMb, "heap_samples_mb" -> LiveHeap.samplesMb.asScala,
      "gc_ms" -> (LiveHeap.gcMs - gc0),
      "load_call_ms" -> loadCallMs.getOrElse(0.0)) ++ body
    tracer.foreach(_.write(s"$out/spans.json"))
    Files.writeString(Paths.get(s"$out/result.json"), Json.obj(result: _*))
    spark.stop()
    sys.exit(0)
  }
}
