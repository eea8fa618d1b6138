package graft.perfbench

/** The per-layer metrics of a traced run. Every traced run prints all of
  * them; a span the workload never enters reads 0, which is the measured
  * value (that layer did no work for it).
  */
object Layers {
  /** Spans around the engine calls, in pipeline order per workload. */
  val Spans: Seq[String] = Seq(
    // img-batch
    "idhash.build_repairs", "signatures.signatures", "lsh.bands", "lsh.lsh_candidates",
    "lsh.simhash_candidates", "suffix.span_candidates", "pipeline.merge_candidates",
    "scoring.score_topk", "scoring.verify", "cc.cluster_hashed", "tableio.commit",
    // text-cascade
    "signatures.text_minhash", "sparkentry.near_dup_exact", "semdedup.prune", "tiered.cascade")

  /** Stream spans reported as the median over their occurrences (one per
    * micro-batch); every other span is summed over the traced run.
    */
  val PerOccurrence: Set[String] = Set("streamjob.process_batch")

  /** Stages whose commit wall time is reported on its own. */
  val CommitStages: Seq[String] =
    Seq("signatures", "bucket_stats", "candidates", "scored", "verified", "clusters", "assignment")

  /** Values the workloads compute themselves (see TracedOutcome.extra). */
  val Extra: Seq[(String, String)] = Seq(
    "candidates.dup_factor" -> "ratio",
    "scoring.verify.dup_yield" -> "ratio",
    "sparkentry.near_dup_exact.verify_yield" -> "ratio",
    "kernel.shingles.ns_per_row" -> "ns/row",
    "kernel.minhash.ns_per_row" -> "ns/row",
    "kernel.oph.ns_per_row" -> "ns/row",
    "kernel.simhash.ns_per_row" -> "ns/row",
    "kernel.suffix_array.ns_per_row" -> "ns/row",
    "kernel.psnr.ns_per_pair" -> "ns/pair")

  private def span(name: String, st: SpanStats): Seq[(String, Double, String)] =
    Seq((s"$name.wall_s", st.wallS, "s"), (s"$name.jobs", st.jobs.toDouble, "count"),
      (s"$name.task_cpu_s", st.taskCpuS, "s"), (s"$name.shuffle_mb", st.shuffleMb, "MB"),
      (s"$name.rows_out", st.rowsOut.toDouble, "rows"))

  /** The traced job's metrics, then the image stream's under
    * [[ImgStream.Prefix]] (zero when this run did not trace the stream).
    */
  def metrics(t: TracedOutcome, untracedWallS: Double,
      stream: Option[ImgStream.Outcome]): Seq[(String, Double, String)] = {
    val tr = t.tracer
    val spans = Spans.flatMap(s => span(s, tr.total(s)))
    val commits = tr.wallByDetail("tableio.commit")
    val perStage = CommitStages.map(st => (s"tableio.commit.$st.wall_s", commits.getOrElse(st, 0.0), "s"))
    val extra = Extra.map { case (n, u) => (n, t.extra.getOrElse(n, 0.0), u) }
    val streamSpans = ImgStream.Spans.flatMap { s =>
      val st = stream.fold(SpanStats.Zero) { o =>
        if (PerOccurrence(s)) SpanStats.median(o.tracer.occurrences(s)) else o.tracer.total(s)
      }
      span(ImgStream.Prefix + s, st)
    }
    spans ++ perStage ++ extra ++ Seq(
      ("trace.coverage", tr.topLevelWall / t.wallS, "ratio"),
      ("trace.overhead_s", t.wallS - untracedWallS, "s")) ++ streamSpans :+
      (ImgStream.Prefix + "streaming.trigger_overhead_s", stream.fold(0.0)(_.triggerOverheadS), "s")
  }
}
