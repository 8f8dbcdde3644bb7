package perfbench

/** Reductions shared by the workloads' traced runs. Per-layer metrics are
  * named after the engine's modules; run.py checks every name against
  * BENCHMARK.json and reports a layer a workload did not exercise as 0.
  */
object Layers {
  /** The layer a span name belongs to: its first dotted component. */
  def layerOf(span: String): String = span.takeWhile(_ != '.')

  /** Per-operation reductions over the root spans `ops` of a workload's
    * timed operations (statements, epochs or passes): layer self times,
    * Spark work, and how much of each operation's wall the layer spans
    * cover. Every value is a mean per operation; `gcMsPerOp` is the
    * JVM's collection time over the timed phase per operation.
    */
  def perOp(ctx: Ctx, ops: Seq[Span], gcMsPerOp: Double): Unit = {
    val t = ctx.tracer
    val L = ctx.layers
    val n = ops.size.toDouble
    if (n == 0) return
    val sub = ops.flatMap(t.descendants)
    def spanMs(name: String) = sub.filter(_.name == name).map(_.ms).sum / n
    L("sql.parse_ms") = spanMs("sql.parse")
    L("sql.frame_ms") = spanMs("sql.frame")
    L("query.compile_ms") = spanMs("query.compile")
    L("spark.plan_ms") = spanMs("spark.plan")
    L("spark.exec_ms") = spanMs("spark.exec")
    val statements = (ops ++ sub).filter(s => s.name == "serve.statement" || s.name == "ingest.read")
    L("sql.statement_ms") = Stats.mean(statements.map(_.ms))
    Seq("sql", "query", "spark", "index", "ops").foreach { layer =>
      L(s"self.${layer}_ms") = sub.filter(s => layerOf(s.name) == layer).map(t.selfMs).sum / n
    }
    val rootSelf = ops.map(t.selfMs).sum
    L("self.bench_ms") = rootSelf / n
    L("trace.coverage") = 1.0 - rootSelf / ops.map(_.ms).sum
    val c = new SparkCounters
    ops.foreach(o => c += t.total(o))
    L("spark.jobs_per_op") = c.jobs / n
    L("spark.stages_per_op") = c.stages / n
    L("spark.tasks_per_op") = c.tasks / n
    L("spark.task_run_ms_per_op") = c.taskRunMs / n
    L("spark.task_cpu_ms_per_op") = c.taskCpuMs / n
    L("spark.sched_gap_ms") = c.schedGapMs / n
    L("spark.shuffle_write_mb") = c.shuffleWriteB / 1e6 / n
    L("spark.shuffle_read_mb") = c.shuffleReadB / 1e6 / n
    L("spark.spill_mb") = c.spillB / 1e6 / n
    L("jvm.gc_ms") = gcMsPerOp
  }
}
