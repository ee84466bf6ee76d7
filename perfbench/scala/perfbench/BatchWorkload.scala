package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One batch workload: a fixed list of `SparkEntry.queries` members.
  *
  * A check pass first writes every member's result as parquet for the
  * oracle compare. Passes then materialise each member with a `noop` write,
  * which runs the whole physical plan and discards rows at the sink: one
  * untimed warm-up pass, since the JIT is still compiling the members'
  * code paths through the first two executions, then timed passes until
  * the measuring time is used up. The member order within a pass is a
  * shuffle drawn from the workload seed.
  *
  * Timed: `build` is the call `SparkEntry.queries(q)(spark, sf)` — the
  * builder, with its driver loops, eager actions and `Tables.load` calls;
  * `write` is the `noop` write, whose planning phases (analysis,
  * optimization, physical planning) come from its QueryExecution tracker
  * and whose remainder is execution.
  */
object BatchWorkload {

  final case class Exec(query: String, pass: Int, buildMs: Double,
                        writeMs: Double, phases: Map[String, Long],
                        build: Work, tables: Work, exec: Work)

  /** Analysis + optimization + physical planning of the final write. */
  def planMs(e: Exec): Double =
    Seq("analysis", "optimization", "planning").map(e.phases.getOrElse(_, 0L)).sum.toDouble

  def json(e: Exec): String = Json.obj(
    "query" -> e.query, "pass" -> e.pass, "build_ms" -> e.buildMs,
    "write_ms" -> e.writeMs, "plan_ms" -> planMs(e),
    "phases" -> e.phases, "build" -> Json.Raw(e.build.json),
    "tables" -> Json.Raw(e.tables.json), "exec" -> Json.Raw(e.exec.json))

  def run(spark: SparkSession, sfDir: String, members: Seq[String],
          seed: Long, seconds: Double, checkDir: String,
          tracer: Option[Tracer]): (Seq[Exec], Map[String, String]) = {
    val unknown = members.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val rng = new scala.util.Random(seed)
    val failed = mutable.LinkedHashMap.empty[String, String]

    def attempt(q: String)(body: => Unit): Boolean =
      try { body; true }
      catch {
        case e: Throwable =>
          failed.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          false
      }

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(checkDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json.value(SparkEntry.oracleSql.filter { case (q, _) => members.contains(q) }))
    rng.shuffle(members).foreach { q =>
      attempt(q) {
        SparkEntry.queries(q)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$checkDir/$q")
      }
      spark.catalog.clearCache()
    }

    rng.shuffle(members).filterNot(failed.contains).foreach { q =>
      spark.catalog.clearCache()
      attempt(q)(SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save())
    }

    val execs = mutable.ArrayBuffer.empty[Exec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 1
    while (pass == 1 || System.nanoTime() < deadline) {
      rng.shuffle(members).filterNot(failed.contains).foreach { q =>
        spark.catalog.clearCache()
        val id = s"$q/$pass"
        tracer.foreach(_.label(s"$id/build"))
        val t0 = System.nanoTime()
        attempt(q) {
          val df = SparkEntry.queries(q)(spark, sfDir)
          val t1 = System.nanoTime()
          tracer.foreach(_.label(s"$id/exec"))
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          val e = tracer match {
            case None => Exec(q, pass, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
              Map.empty, new Work, new Work, new Work)
            case Some(tr) =>
              tr.quiesce()
              val (build, tables) = tr.jobs.take(s"$id/build")
              val (exec, _) = tr.jobs.take(s"$id/exec")
              val phases = tr.phases.take()
              Exec(q, pass, (t1 - t0) / 1e6, (t2 - t1) / 1e6, phases,
                build, tables, exec)
          }
          tracer.foreach(_.query(id, t0, t1, t2, e))
          execs += e
          // Before the next query's clearCache, so each query's own cached
          // data is live, whatever the member order.
          LiveHeap.sample()
        }
      }
      tracer.foreach(_.label(null))
      pass += 1
    }
    (execs.filterNot(e => failed.contains(e.query)).toSeq, failed.toMap)
  }
}
