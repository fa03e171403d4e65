package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark JVM: one workload, one local[4] session.
  *
  * Set-up (session start, input generation, the warm-up) is timed apart
  * from the measured passes. About `--seconds` of passes follow, a count
  * fixed by the workload's nominal pass length; each pass's outputs are
  * checked outside its timing. With `--trace 1` a traced pass runs first
  * and one untraced pass after it; their difference is the tracing
  * overhead. `setup_s` and `total_s` are scaled to the reference host
  * speed by the probe in `HostSpeed`; the detail keeps the wall times. The
  * last stdout line is one JSON record for run.py.
  */
object Main {

  private val start = System.nanoTime()
  /** Progress line on stderr, with seconds since the JVM's main began. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%8.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val conf = Conf(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a.get("scale").contains("tiny"),
      Paths.get(a("work")).toAbsolutePath, a("data"),
      a.getOrElse("plant", "").split(",").filter(_.nonEmpty).toSet)
    Files.createDirectories(conf.work)

    // the probe's loops are compiled before they measure anything
    (1 to 3).foreach(_ => HostSpeed.sample())
    HostSpeed.interval()
    val (spark, sessionS) = Workloads.timed {
      val s = SparkSession.builder()
        .master("local[4]")
        .appName(s"perfbench-${conf.workload}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", conf.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val listener = if (conf.trace) Some(new GroupListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark, listener)
    val w = Workloads(conf.workload, spark, conf, tracer)

    var attempted = 0
    var failed = 0
    val failures = mutable.LinkedHashMap.empty[String, Int]
    def runChecks(): Unit = w.check().foreach { case (name, ok) =>
      attempted += 1
      if (!ok) { failed += 1; failures(name) = failures.getOrElse(name, 0) + 1 }
    }

    // set-up: input generation repeats (median reported), then the
    // warm-up, then the checks' reference answers (untimed)
    note(f"session started in $sessionS%.2f s")
    HostSpeed.sample()
    val genS = Stats.median((1 to 3).map(_ => Workloads.timed(w.setup())._2))
    note(f"inputs generated (median $genS%.2f s)")
    HostSpeed.sample()
    val (_, warmupS) = Workloads.timed(w.warmUp())
    note(f"warm-up took $warmupS%.2f s")
    HostSpeed.sample()
    val setupProbeS = HostSpeed.interval()
    w.prepareChecks()
    note("reference answers ready")
    val rddsAfterWarmup = spark.sparkContext.getPersistentRDDs.size

    /** One pass; its time is the sum of its phases. */
    def timedPass(i: Int, traced: Boolean): (Double, PassOut, Seq[Span]) = {
      tracer.on = traced
      val from = tracer.spans.length
      val out = new PassOut
      tracer("harness", "pass")(w.pass(i, out))
      val s = out.phases.values.sum
      HostSpeed.sample()
      out.layer("host.probe_cpu_s") = HostSpeed.interval()
      val spans = tracer.since(from)
      if (traced) w.traceExtras(out)
      tracer.on = false
      note(f"pass $i${if (traced) " (traced)" else ""} took $s%.2f s")
      runChecks()
      (s, out, spans)
    }

    // untraced: `--seconds` over the nominal pass length, at least one. A
    // deadline would run one pass more or fewer as the host's speed drifts,
    // and later passes run faster than the first. Traced: one traced pass,
    // then one untraced pass for the overhead comparison.
    val plain = mutable.ArrayBuffer.empty[(Double, PassOut)]
    val tracedPass =
      if (conf.trace) Some(timedPass(1, traced = true))
      else None
    val passes =
      if (conf.trace) 1 else math.max(1, math.round(conf.seconds / w.passS).toInt)
    for (i <- tracedPass.size + 1 to tracedPass.size + passes) {
      val (s, out, _) = timedPass(i, traced = false)
      plain += ((s, out))
    }

    val sc = spark.sparkContext
    val liveHeapMb = Stats.liveHeapMb
    val rddsAfter = sc.getPersistentRDDs.size
    // end-to-end times in seconds at the reference host speed
    val setupRawS = sessionS + genS + warmupS
    val setupS = setupRawS * HostSpeed.RefCpuS / setupProbeS
    val passNormS = plain.map { case (s, out) =>
      s * HostSpeed.RefCpuS / out.layer("host.probe_cpu_s")
    }.toSeq
    val totalS = Stats.median(passNormS)
    val totalRawS = Stats.median(plain.map(_._1).toSeq)

    def medians(outs: Seq[PassOut], f: PassOut => mutable.Map[String, Double]) =
      outs.flatMap(o => f(o).toSeq).groupBy(_._1)
        .map { case (k, vs) => k -> Stats.median(vs.map(_._2)) }

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "pass_s" -> plain.map(_._1).toSeq,
      "pass_norm_s" -> passNormS,
      "setup_raw_s" -> setupRawS,
      "setup_probe_cpu_s" -> setupProbeS,
      "phases" -> medians(plain.map(_._2).toSeq, _.phases),
      "layers" -> medians(plain.map(_._2).toSeq ++ tracedPass.map(_._2), _.layer),
      "sizes" -> w.sizes,
      "failures" -> failures,
      "peak_rss_mb" -> Stats.peakRssMb,
      "persistent_rdds_after_warmup" -> rddsAfterWarmup)

    val metrics: Map[String, (Double, String)] = tracedPass match {
      case None => Map(
        "setup_s" -> (setupS, "s"),
        "total_s" -> (totalS, "s"),
        "live_heap_mb" -> (liveHeapMb, "MB"))
      case Some((tracedS, out, spans)) =>
        // Spark work of the traced pass, summed over its spans
        val c = new Counters
        spans.foreach(s => c += s.work)
        val storageUsed = sc.getExecutorMemoryStatus.values
          .map { case (mx, free) => mx - free }.sum
        // self time and jobs of each traced call, summed by call name
        val self = tracer.selfSeconds(spans)
        val byCall = spans.groupBy(s => s.layer + "." + s.name).map { case (k, ss) =>
          k -> Map("self_s" -> ss.map(s => self(s.id)).sum,
            "jobs" -> ss.map(_.work.jobs).sum.toDouble)
        }
        detail("spans") = byCall
        val jobsPerStep = for {
          (call, k) <- Seq("PageRank.run" -> "pr", "LabelPropagation.run" -> "lp")
          f <- byCall.get("kernels." + call)
          iters <- out.layer.get(s"kernels.$k.iters")
        } yield s"engine.$k.jobs_per_step" -> f("jobs") / iters
        detail("layers") = detail("layers").asInstanceOf[Map[String, Double]] ++ jobsPerStep
        Files.writeString(conf.work.resolve(s"spans-${conf.workload}-${conf.seed}.json"),
          Json(tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
            "layer" -> s.layer, "parent" -> s.parent, "start" -> s.start,
            "end" -> s.end, "jobs" -> s.work.jobs, "tasks" -> s.work.tasks))))
        Map(
          "harness.session_s" -> (sessionS, "s"),
          "harness.warmup_s" -> (warmupS, "s"),
          "harness.input_s" -> (genS, "s"),
          "engine.jobs" -> (c.jobs.toDouble, "count"),
          "engine.stages" -> (c.stages.toDouble, "count"),
          "engine.tasks" -> (c.tasks.toDouble, "count"),
          "engine.shuffle_read_bytes" -> (c.shuffleRead.toDouble, "bytes"),
          "engine.shuffle_write_bytes" -> (c.shuffleWrite.toDouble, "bytes"),
          "engine.spill_bytes" -> (c.spill.toDouble, "bytes"),
          "engine.gc_s" -> (c.gcMs / 1e3, "s"),
          "engine.cpu_s" -> (c.cpuNs / 1e9, "s"),
          "engine.persistent_rdds_after" -> (rddsAfter.toDouble, "count"),
          "engine.persistent_rdds_growth" -> ((rddsAfter - rddsAfterWarmup).toDouble, "count"),
          "engine.storage_used_bytes" -> (storageUsed.toDouble, "bytes"),
          "trace.overhead_s" -> (tracedS - totalRawS, "s"),
          "trace.spans_per_pass" -> (spans.length.toDouble, "count"))
    }

    spark.stop()
    println(Json(Map(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> detail)))
  }
}
