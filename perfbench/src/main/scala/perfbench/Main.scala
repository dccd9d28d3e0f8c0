package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.{Bench, Engine, SparkEntry, Verify}
import graft.operators.{JobSpec, MapReduce}

/** One timed operation of a pass. Wall-clock fields are epoch ms (the
  * clock Spark's listener events carry); `seconds` is the nanoTime
  * latency the end-to-end metrics use. `built` is when a registered
  * query's function returned its DataFrame; `listMs` is how long the traced
  * MapReduce listing calls took. */
final case class OpRec(seq: Int, pass: Int, name: String, start: Long,
    built: Long, listMs: Double, end: Long, seconds: Double, ok: Boolean,
    error: String, out: String, persistedAfter: Int, storageAfter: Long,
    outputBytes: Long)

/** The JVM half of the benchmark: sets up the engine's bench session,
  * runs one workload's ops as a single closed-loop client (next op only
  * after the previous one returned), and writes the raw records to
  * `<work>/result.json` for `run.py`, which checks outputs and prints the
  * metrics.
  *
  * Usage: Main --ops a,b,c --seconds S --trace 0|1 --tables DIR
  *   --work DIR [--corpus DIR --exec DIR] */
object Main {
  val Mappers = 4
  val Reducers = 4
  /** Timed passes of an untraced run, at least, so every op's latency is
    * a median over more than one sample even when --seconds is shorter
    * than a pass (a query_mix pass takes about 9 s on 4 cores). */
  val MinPasses = 2
  /** Untimed work after the session is up, at least. The JIT is still
    * compiling the hot paths after the cold check pass: mr_jobs' first three
    * timed passes ran 29%, 6% and 4% slower than the run's median, and how
    * much slower varied from run to run. */
  val WarmupSeconds = 12.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ops = a("ops").split(",").toSeq
    val seconds = a("seconds").toDouble
    val tables = a("tables")
    val work = a("work")
    val corpus = a.getOrElse("corpus", "")
    val exec = a.getOrElse("exec", "")
    val cpus = Runtime.getRuntime.availableProcessors.toString

    val spark = Bench.benchSession(cpus)
    Bench.warmUp(spark, tables)
    val sessionReadyMs = System.currentTimeMillis()
    log("session ready")
    val sc = spark.sparkContext
    val batches = new BatchListener
    val streamOps = ops.count(_.startsWith("q_stream_"))
    if (streamOps > 0) spark.streams.addListener(batches)

    var seq = 0
    def runOp(pass: Int, name: String, traced: Boolean, outRoot: String): OpRec = {
      seq += 1
      val out = s"$outRoot/$seq-$name"
      var built = 0L
      var listMs = 0.0
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = try {
        name match {
          case "mr_submit" =>
            if (traced) {
              val l0 = System.nanoTime()
              MapReduce.splitRoundRobin(MapReduce.listInputs(spark, corpus), Mappers)
              listMs = (System.nanoTime() - l0) / 1e6
            }
            Engine.submit(spark, JobSpec(corpus, out, s"$exec/wc_map.sh",
              s"$exec/wc_reduce.sh", Mappers, Reducers))
          case "mr_wordcount" => Engine.wordCount(spark, corpus, out, Mappers, Reducers)
          case "mr_grep" => Engine.grep(spark, corpus, out, "product", Mappers, Reducers)
          case q =>
            val df: DataFrame = SparkEntry.queries(q)(spark, tables)
            built = System.currentTimeMillis()
            df.write.format("noop").mode("overwrite").save()
        }
        ""
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        String.valueOf(e).take(300)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      if (built == 0L && name.startsWith("q_")) built = end // threw while building
      val (persisted, storage) =
        if (!traced) (0, 0L)
        else (sc.getPersistentRDDs.size,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      val outBytes = if (!traced || !name.startsWith("mr_")) 0L else partBytes(out)
      OpRec(seq, pass, name, start, built, listMs, end, secs, err.isEmpty,
        err, if (name.startsWith("mr_")) out else "", persisted, storage, outBytes)
    }
    // an MR op's record carries its reducer count: run.py checks the
    // number of part files against it
    def record(o: OpRec) = Map("name" -> o.name, "pass" -> o.pass,
      "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error, "out" -> o.out,
      "reducers" -> Reducers)

    // untimed first pass: warms the JIT and codegen, and writes the
    // outputs run.py checks (query results as parquet via Verify.run, which
    // is what the oracle compare reads)
    val checkDir = s"$work/check"
    val queryFns = ops.filter(_.startsWith("q_")).map(q => q -> SparkEntry.queries(q)).toMap
    val queryFailed = Verify.run(spark, tables, s"$checkDir/queries", None, queryFns)
    val checkOps = ops.filter(_.startsWith("mr_")).map(runOp(0, _, traced = false, s"$checkDir/mr"))
    writeOracle(ops, s"$checkDir/queries/oracle_sql.json")
    // progress events arrive after awaitTermination returns: count the
    // drains each region must have delivered before reading its batches
    var drains = streamOps
    batches.awaitTerminated(drains)
    batches.batches.clear()
    log("check pass done")

    /** Whole passes over `ops` until `secs` have gone by and at least
      * `min` passes ran, then the stream progress events of those passes. */
    var pass = 0
    def passes(traced: Boolean, secs: Double, min: Int,
        outRoot: String): (Seq[OpRec], Seq[BatchRec]) = {
      val recs = mutable.ArrayBuffer.empty[OpRec]
      val t0 = System.nanoTime()
      val first = pass
      while (pass - first < min || (System.nanoTime() - t0) / 1e9 < secs) {
        pass += 1
        ops.foreach(o => recs += runOp(pass, o, traced, outRoot))
      }
      drains += streamOps * (pass - first)
      batches.awaitTerminated(drains)
      (recs.toSeq, drainQueue(batches.batches))
    }
    def passCount(rs: Seq[OpRec]) = rs.map(_.pass).distinct.size

    // untimed warm-up passes until the check pass and they have run for
    // WarmupSeconds: none on query_mix, whose check pass alone takes longer
    passes(traced = false,
      WarmupSeconds - (System.currentTimeMillis() - sessionReadyMs) / 1000.0, 0,
      s"$work/warm")
    // set-up ends here; the control readings below are not part of it
    val setupEndMs = System.currentTimeMillis()
    log(s"warm-up done, $pass passes")

    val cpu0 = Bench.sentinel(spark)
    val floor0 = Bench.jobFloor(spark)
    val (timed, timedBatches, trace) =
      if (a("trace") != "1") {
        val (rs, bs) = passes(traced = false, seconds, MinPasses, s"$work/mr")
        (rs, bs, Map.empty[String, Any])
      } else {
        // untraced, traced, traced, untraced: a drift of op times that is
        // linear in time (warm-up, load) cancels out of the difference;
        // the four blocks together take about --seconds
        val quarter = seconds / 4
        val (u1, ub1) = passes(traced = false, quarter, 1, s"$work/mr")
        val tracer = new Tracer
        tracer.attach(spark)
        val (t1, tb1) = passes(traced = true, quarter, 1, s"$work/mr-traced")
        val (t2, tb2) = passes(traced = true, quarter, 1, s"$work/mr-traced")
        tracer.drain(spark)
        tracer.detach(spark)
        val (u2, ub2) = passes(traced = false, quarter, 1, s"$work/mr")
        val (tops, uops) = (t1 ++ t2, u1 ++ u2)
        val layers = Layers(tops, tracer, tb1 ++ tb2, passCount(tops))
        Spans.write(layers.spans, s"$work/trace.json")
        def perPass(rs: Seq[OpRec]) = rs.map(_.seconds).sum / passCount(rs)
        val metrics = layers.metrics +
          ("trace.overhead_s" -> (perPass(tops) - perPass(uops)))
        (uops, ub1 ++ ub2, Map("metrics" -> metrics, "breakdown" -> layers.breakdown,
          "failed_ops" -> tops.filterNot(_.ok).map(_.name)))
      }
    val cpu1 = Bench.sentinel(spark)
    val floor1 = Bench.jobFloor(spark)
    log(s"timed region done, ${passCount(timed)} passes")

    val result = Map(
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "ops" -> timed.map(record),
      "passes" -> passCount(timed),
      "batches" -> timedBatches.map(b => Map("rows" -> b.rows,
        "trigger_ms" -> b.durations.getOrElse("triggerExecution", 0L))),
      "check" -> Map("query_dir" -> s"$checkDir/queries",
        "query_failed" -> queryFailed,
        "mr" -> checkOps.map(record)),
      "control" -> Map("cpu_sentinel_start_s" -> cpu0, "cpu_sentinel_end_s" -> cpu1,
        "job_floor_start_ms" -> floor0 * 1000, "job_floor_end_ms" -> floor1 * 1000),
      "rss_peak_mb" -> vmHwmMb(),
      "trace" -> trace)
    Json.write(result, s"$work/result.json")
    spark.stop()
  }

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1f s] $msg")

  private def drainQueue[T](q: java.util.concurrent.ConcurrentLinkedQueue[T]): Seq[T] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

  private def partBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-")).map(_.length).sum

  private def writeOracle(ops: Seq[String], path: String): Unit = {
    val oracle = SparkEntry.oracleSql
    Json.write(ops.filter(oracle.contains).map(q => q -> oracle(q)).toMap, path)
  }

  /** Peak resident set of this JVM, in MB, from /proc/self/status. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any, path: String): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    mapper.writeValue(new java.io.File(path), v)
  }
}
