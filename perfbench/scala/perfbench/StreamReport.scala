package perfbench

/** Raw stream measurements for `run.py`; per-trigger Spark work is taken
  * from the tracer's job labels when the run is traced. */
object StreamReport {

  private def part(p: StreamWorkload.Part, tracer: Option[Tracer]): String = {
    val sinkMs = p.sunk.map(s => s.id -> s.sinkMs).toMap
    val lateUs = p.gen.lateness.sorted
    val work = p.batches.map { b =>
      tracer.fold(new Work) { tr =>
        val (w, _) = tr.jobs.take(s"${p.name}/trigger/${b.id}")
        tr.trigger(p.name, b, w)
        w
      }
    }
    Json.obj(
      "latency_samples" -> p.latencyMs.sum,
      "p50_ms" -> StreamWorkload.percentile(p.latencyMs, 0.50),
      "p99_ms" -> StreamWorkload.percentile(p.latencyMs, 0.99),
      "gen_late_ms_p99" -> (if (lateUs.isEmpty) 0.0
        else lateUs((0.99 * (lateUs.size - 1)).round.toInt) / 1000.0),
      "backlog_end" -> p.backlogEnd,
      "wrong_batches" -> p.wrong,
      "batches" -> p.batches.zip(work).map { case (b, w) => Json.Raw(Json.obj(
        "id" -> b.id, "start_ms" -> b.startMs, "from" -> b.from, "until" -> b.until, "rows" -> b.rows,
        "durations" -> b.durations, "state_rows_total" -> b.stateRowsTotal,
        "state_rows_updated" -> b.stateRowsUpdated,
        "state_commit_ms" -> b.stateCommitMs, "state_memory_b" -> b.stateMemoryB,
        "sink_ms" -> sinkMs.getOrElse(b.id, Double.NaN),
        "work" -> Json.Raw(w.json))) })
  }

  def json(r: StreamWorkload.Result, tracer: Option[Tracer]): String =
    Json.obj("open" -> Json.Raw(part(r.open, tracer)),
      "closed" -> Json.Raw(part(r.closed, tracer)),
      "measure_from_ms" -> r.measureFromMs,
      "closed_rows" -> r.closed.timed.drop(1).map(_.rows).sum,
      "closed_wall_ms" -> r.closedWallMs)
}
