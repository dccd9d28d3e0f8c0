package perfbench

import scala.collection.mutable

/** A traced interval. `trace` is the op's sequence number, shared by every
  * span under that op; `parent` is the enclosing span's id (empty for an
  * op). Times are epoch ms. */
final case class Span(trace: Int, id: String, parent: String, kind: String,
    name: String, start: Long, end: Long) {
  def ms: Long = math.max(0L, end - start)
}

object Spans {
  /** Length of the union of `xs`, clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end))
    }.toMap
  }

  def write(spans: Seq[Span], path: String): Unit = {
    val self = selfMs(spans)
    Json.write(spans.map(s => Map("trace_id" -> s.trace, "span_id" -> s.id,
      "parent_id" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id))), path)
  }
}

/** Per-layer metrics of one traced region, from the op records, the
  * listener records and the stream progress events. Totals are divided by
  * the number of passes, so each is "per pass over the workload's ops". */
final case class Layers(metrics: Map[String, Double], spans: Seq[Span],
    breakdown: Seq[Map[String, Any]])

object Layers {
  private val MB = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def apply(ops: Seq[OpRec], t: Tracer, batches: Seq[BatchRec], passes: Int): Layers = {
    val p = passes.toDouble
    def within(o: OpRec, ms: Long) = ms >= o.start && ms <= o.end
    def opOf(ms: Long): Option[OpRec] = ops.find(within(_, ms))
    val jobsOf: Map[Int, Seq[JobRec]] =
      t.jobs.toSeq.flatMap(j => opOf(j.start).map(_.seq -> j)).groupMap(_._1)(_._2)
    val qesOf: Map[Int, Seq[QeRec]] =
      t.qes.toSeq.flatMap(q => opOf(q.plannedAt).map(_.seq -> q)).groupMap(_._1)(_._2)
    val batchesOf: Map[Int, Seq[BatchRec]] =
      batches.flatMap(b => opOf(b.start).map(_.seq -> b)).groupMap(_._1)(_._2)
    def jobs(o: OpRec) = jobsOf.getOrElse(o.seq, Nil)
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stages).distinct.flatMap(t.stages.get)
    def agg(id: Int) = t.stageAgg.getOrElse(id, new StageAgg)
    def trig(b: BatchRec) = b.durations.getOrElse("triggerExecution", 0L)

    // ---- spans: op -> phase -> job -> stage
    val spans = mutable.ArrayBuffer.empty[Span]
    ops.foreach { o =>
      val opId = s"op${o.seq}"
      spans += Span(o.seq, opId, "", "op", o.name, o.start, o.end)
      val phases: Seq[Span] =
        if (o.name.startsWith("mr_")) {
          val runFrom = o.start + o.listMs.round
          (if (o.listMs > 0) Seq(Span(o.seq, s"$opId.list", opId, "phase", "list", o.start, runFrom))
           else Nil) :+ Span(o.seq, s"$opId.run", opId, "phase", "run", runFrom, o.end)
        } else {
          val bs = batchesOf.getOrElse(o.seq, Nil).map(b => Span(o.seq,
            s"$opId.b${b.batchId}", opId, "phase", s"batch ${b.batchId}", b.start, b.start + trig(b)))
          if (bs.nonEmpty) bs :+ Span(o.seq, s"$opId.action", opId, "phase", "action", o.built, o.end)
          else Seq(Span(o.seq, s"$opId.build", opId, "phase", "build", o.start, o.built),
            Span(o.seq, s"$opId.action", opId, "phase", "action", o.built, o.end))
        }
      spans ++= phases
      jobs(o).foreach { j =>
        val parent = phases.find(ph => j.start >= ph.start && j.start <= ph.end).map(_.id).getOrElse(opId)
        val jobId = s"$opId.j${j.id}"
        spans += Span(o.seq, jobId, parent, "job", s"job ${j.id}", j.start, j.end)
        // a stage an earlier job already ran is listed again but skipped
        j.stages.flatMap(t.stages.get).filter(_.submit >= j.start).foreach(s =>
          spans += Span(o.seq, s"$jobId.s${s.id}", jobId, "stage", s.name, s.submit, s.end))
      }
    }
    val self = Spans.selfMs(spans.toSeq)
    val breakdown = ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, os) =>
      def part(kind: String) = median(os.map(o => spans.filter(s => s.trace == o.seq && s.kind == kind)
        .map(s => self(s.id)).sum / 1000.0))
      // stages of one job overlap, so their share is the part of each job
      // they cover, not the sum of their own times
      def staged = median(os.map(o => spans.filter(s => s.trace == o.seq && s.kind == "job")
        .map(s => s.ms - self(s.id)).sum / 1000.0))
      Map("op" -> name, "n" -> os.size, "wall_s" -> median(os.map(_.seconds)),
        "build_s" -> median(os.map(o => if (o.built == 0L) 0.0 else (o.built - o.start) / 1000.0)),
        "jobs" -> median(os.map(o => jobs(o).size.toDouble)),
        "op_self_s" -> part("op"), "phase_self_s" -> part("phase"),
        "job_self_s" -> part("job"), "stage_s" -> staged)
    }

    // ---- MapReduce: the three job kinds
    val mr = ops.filter(_.name.startsWith("mr_"))
    // an MR job is one Spark job: its last stage is the reduce, the rest map
    val mrStages = mr.flatMap(o => jobs(o).flatMap { j =>
      val ss = j.stages.flatMap(t.stages.get)
      ss.map(s => (o, s, ss.nonEmpty && s.id == ss.map(_.id).max))
    })
    def mrSum(reduce: Boolean)(f: StageRec => Double) =
      mrStages.filter(_._3 == reduce).map(x => f(x._2)).sum / p
    val reduceSkew = median(mr.map { o =>
      val runs = mrStages.filter(x => x._1.seq == o.seq && x._3)
        .flatMap(x => agg(x._2.id).taskRunMs).map(_.toDouble)
      if (runs.isEmpty) 0.0 else runs.max / math.max(1.0, median(runs))
    })

    // ---- queries (registered functions, batch and stream)
    val qops = ops.filterNot(_.name.startsWith("mr_"))
    def jobsIn(o: OpRec, lo: Long, hi: Long) = jobs(o).count(j => j.start >= lo && j.start <= hi)
    val allQes = ops.flatMap(o => qesOf.getOrElse(o.seq, Nil))
    val queryQes = qops.flatMap(o => qesOf.getOrElse(o.seq, Nil))
    val allJobs = ops.flatMap(jobs)
    val allStages = stagesOf(allJobs)
    val aggs = allStages.map(s => agg(s.id))
    val streamOps = qops.filter(o => batchesOf.contains(o.seq))
    val bs = streamOps.flatMap(o => batchesOf(o.seq))
    val trigs = bs.map(b => trig(b).toDouble)
    def phaseMed(k: String) = median(bs.map(_.durations.getOrElse(k, 0L).toDouble))

    val m = Map[String, Double](
      "MapReduce.list_ms" -> mr.map(_.listMs).sum / p,
      "MapReduce.map_stage_s" -> mrSum(reduce = false)(s => (s.end - s.submit) / 1000.0),
      "MapReduce.reduce_stage_s" -> mrSum(reduce = true)(s => (s.end - s.submit) / 1000.0),
      "MapReduce.map_task_s" -> mrSum(reduce = false)(s => agg(s.id).runMs / 1000.0),
      "MapReduce.reduce_task_s" -> mrSum(reduce = true)(s => agg(s.id).runMs / 1000.0),
      "MapReduce.shuffle_mb" -> mrSum(reduce = false)(s => agg(s.id).shufWrite / MB),
      "MapReduce.shuffle_records" -> mrSum(reduce = false)(s => agg(s.id).shufRecs.toDouble),
      "MapReduce.spill_mb" -> (mrSum(false)(s => agg(s.id).spill / MB) + mrSum(true)(s => agg(s.id).spill / MB)),
      "MapReduce.reduce_skew" -> reduceSkew,
      "MapReduce.pipe_procs" -> mrStages.filter(_._1.name == "mr_submit").map(x => agg(x._2.id).tasks).sum / p,
      "MapReduce.output_mb" -> mr.map(_.outputBytes).sum / MB / p,
      "Tables.scan_ms" -> queryQes.map(_.scanMs).sum / p,
      "Tables.scan_rows" -> queryQes.map(_.scanRows).sum / p,
      "planning.analysis_ms" -> allQes.map(_.phasesMs.getOrElse("analysis", 0L)).sum / p,
      "planning.optimization_ms" -> allQes.map(_.phasesMs.getOrElse("optimization", 0L)).sum / p,
      "planning.planning_ms" -> allQes.map(_.phasesMs.getOrElse("planning", 0L)).sum / p,
      "planning.graft_rule_runs" -> allQes.map(_.ruleRuns).sum / p,
      "planning.graft_rule_effective" -> allQes.map(_.ruleEffective).sum / p,
      "operators.build_s" -> qops.map(o => (o.built - o.start) / 1000.0).sum / p,
      "operators.build_jobs" -> qops.map(o => jobsIn(o, o.start, o.built)).sum / p,
      "operators.action_s" -> qops.map(o => (o.end - o.built) / 1000.0).sum / p,
      "operators.action_jobs" -> qops.map(o => jobsIn(o, o.built + 1, o.end)).sum / p,
      "operators.driver_gap_s" -> qops.map(o => (o.end - o.start - Spans.covered(
        jobs(o).map(j => (j.start, j.end)), o.start, o.end)) / 1000.0).sum / p,
      "Materialize.rdd_blocks_mb" -> t.rddBlockBytes / MB / p,
      "Materialize.persisted_after_op" -> mean(ops.map(_.persistedAfter.toDouble)),
      "Materialize.storage_mb_after_op" -> mean(ops.map(_.storageAfter / MB)),
      "streaming.batches" -> bs.count(_.rows > 0) / p,
      "streaming.jobs_per_batch" -> (if (bs.isEmpty) 0.0 else streamOps.map(o => batchesOf(o.seq)
        .map(b => jobsIn(o, b.start, b.start + trig(b))).sum).sum.toDouble / bs.size),
      "streaming.addBatch_ms" -> phaseMed("addBatch"),
      "streaming.latestOffset_ms" -> phaseMed("latestOffset"),
      "streaming.queryPlanning_ms" -> phaseMed("queryPlanning"),
      "streaming.walCommit_ms" -> phaseMed("walCommit"),
      "streaming.commitOffsets_ms" -> phaseMed("commitOffsets"),
      "streaming.outside_triggers_s" -> streamOps.map(o =>
        (o.end - o.start - batchesOf(o.seq).map(trig).sum) / 1000.0).sum / p,
      "streaming.write_mb" -> stagesOf(streamOps.flatMap(jobs)).map(s => agg(s.id).written).sum / MB / p,
      "streaming.batch_skew" -> (if (trigs.isEmpty) 0.0 else trigs.max / math.max(1.0, median(trigs))),
      "exec.jobs" -> allJobs.size / p,
      "exec.stages" -> allStages.size / p,
      "exec.tasks" -> aggs.map(_.tasks).sum / p,
      "exec.task_s" -> aggs.map(_.runMs).sum / 1000.0 / p,
      "exec.task_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9 / p,
      "exec.gc_s" -> aggs.map(_.gcMs).sum / 1000.0 / p,
      "exec.shuffle_write_mb" -> aggs.map(_.shufWrite).sum / MB / p,
      "exec.spill_mb" -> aggs.map(_.spill).sum / MB / p,
      "exec.peak_exec_mem_mb" -> (if (aggs.isEmpty) 0.0 else aggs.map(_.peakMem).max / MB),
      "exec.task_retries" -> aggs.map(_.failed).sum.toDouble / math.max(1, aggs.map(_.tasks).sum))
    Layers(m, spans.toSeq, breakdown)
  }
}
