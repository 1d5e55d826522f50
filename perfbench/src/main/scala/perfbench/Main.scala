package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM:
  *
  *   Main --workload <daily_admit|search_mix> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *
  * Prints two lines on stdout: `DETAIL <json>` (the workload's own named
  * metrics) and `RESULT <json>` (the generic metrics every workload
  * reports, or with `--trace 1` every per-span counter). With tracing on
  * it also writes every span, with its parent and counters, to
  * `<out>/spans.jsonl`. `--work` is scratch space, deleted at exit. */
object Main {
  val Runs: Map[String, Ctx => Measured] = Map(
    "daily_admit" -> DailyAdmit.run,
    "search_mix" -> SearchMix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Runs.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    Files.createDirectories(work)
    Files.createDirectories(out)

    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - Workloads.jvmStart) / 1e3
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, seed, opts("seconds").toDouble, work)
    Workloads.log("session ready")
    val (m, heapMb) = try {
      val m = run(ctx)
      (m, Workloads.liveHeapMb())
    } finally spark.stop()
    Workloads.log("session stopped")
    deleteTree(work)
    // where the time went, by span name, for whoever reads the log
    tracer.all.groupBy(_.name).toSeq.sortBy(-_._2.map(_.seconds).sum)
      .foreach { case (name, ss) =>
        System.err.println(f"[perfbench] span $name%-24s n=${ss.size}%4d " +
          f"total=${ss.map(_.seconds).sum}%8.3fs")
      }

    val ops = m.ops
    val good = ops.filter(_.ok)
    val unit = good.filter(o => o.kind == primary(workload))
    val throughput = good.filter(o => o.kind != "write")
    val writes = good.filter(_.writeSeconds > 0).map(_.writeSeconds)
    val e2e = Seq(
      ("setup_s", sessionS + m.setupS, "s"),
      ("op_p50_s", Workloads.median(unit.map(_.seconds)), "s"),
      ("items_per_s", throughput.map(_.items).sum.toDouble /
        throughput.map(_.seconds).sum, "1/s"),
      ("write_p50_s", Workloads.median(writes), "s"),
      ("recall", m.recall, "frac"),
      ("live_heap_mb", heapMb, "MB"))
    val detail = Seq(("setup_s", e2e.head._2, "s"),
      ("ops_failed_frac", (ops.size - good.size).toDouble / ops.size, "frac"),
      ("op_mean_s", unit.map(_.seconds).sum / unit.size, "s")) ++
      m.detail :+ (("session_s", sessionS, "s"))
    println("DETAIL " + obj(detail.map { case (k, v, u) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }))

    val metrics =
      if (!traced) e2e
      else {
        val spans = tracer.all
        val cs = tracer.counters()
        writeSpans(out.resolve("spans.jsonl"), spans, cs)
        perLayer(spans, cs, m)
      }
    Workloads.log("done")
    println("RESULT " + obj(Seq(
      "correct" -> (if (ops.nonEmpty && good.size == ops.size) "true" else "false"),
      "attempted" -> ops.size.toString,
      "failed" -> (ops.size - good.size).toString,
      "metrics" -> obj(metrics.map { case (k, v, u) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }))))
  }

  /** The op kind whose latency is `op_p50_s`. */
  def primary(workload: String): String = workload match {
    case "daily_admit" => "day"
    case _ => "ivf"
  }

  /** Mean per call of every counter of every span name, over the first
    * `minOps` ops (a prefix every run completes, so job and task counts
    * repeat exactly for a seed); per-op totals over the same ops; the
    * minhash/exact append counts before and after the first retirement;
    * and the workload's ratios. */
  def perLayer(spans: Seq[Span], cs: Map[Int, (Counters, Double)],
      m: Measured): Seq[(String, Double, String)] = {
    val (setups, measured) = spans.filter(_.parent < 0).partition(_.name == "setup")
    val opIds = measured.map(_.op).sorted.take(m.minOps).toSet
    val setupIds = setups.map(_.op).toSet
    val kept = spans.filter(s => opIds(s.op))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def counters(ss: Seq[Span], prefix: String) = {
      val c = ss.map(s => cs(s.id))
      Seq(
        (s"$prefix.s", mean(ss.map(_.seconds)), "s"),
        (s"$prefix.self_s", mean(c.map(_._2)), "s"),
        (s"$prefix.jobs", mean(c.map(_._1.jobs.toDouble)), "count"),
        (s"$prefix.tasks", mean(c.map(_._1.tasks.toDouble)), "count"),
        (s"$prefix.cpu_s", mean(c.map(_._1.cpuS)), "s"),
        (s"$prefix.shuffle_mb", mean(c.map(_._1.shuffleMb)), "MB"),
        (s"$prefix.out_mb", mean(c.map(_._1.outMb)), "MB"),
        (s"$prefix.nojob_s", mean(c.map(_._1.nojobS)), "s"))
    }
    // a layer called in the measured ops is reported from them; one
    // called only while setting up (the index builds of daily_admit and
    // search_mix) is reported from the set-ups
    val inOps = kept.filter(_.parent >= 0)
    val onlySetup = spans.filter(s => setupIds(s.op) && s.parent >= 0 &&
      !inOps.exists(_.name == s.name))
    val layers = (inOps ++ onlySetup).groupBy(_.name).toSeq.sortBy(_._1)
      .flatMap { case (name, ss) => counters(ss, name) }
    val opSpans = kept.filter(s => s.parent < 0 && s.name != "setup")
    val ops = counters(opSpans, "op")
    // appends on days before the first retirement vs after it
    val retireOp = kept.filter(_.name == "maintenance.nightly").map(_.op)
      .sorted.drop(DailyAdmit.Keep).headOption
    val phases = for {
      fam <- Seq("minhash", "exact")
      (phase, sel) <- Seq[(String, Int => Boolean)](
        "pre_retire" -> (op => retireOp.forall(op <= _)),
        "post_retire" -> (op => retireOp.exists(op > _)))
      counter <- Seq("jobs", "tasks")
    } yield {
      val ss = kept.filter(s => s.name == s"dedup.${fam}_append" && sel(s.op))
      val v = mean(ss.map(s => if (counter == "jobs") cs(s.id)._1.jobs.toDouble
        else cs(s.id)._1.tasks.toDouble))
      (s"dedup.${fam}_append.${counter}_$phase", v, "count")
    }
    layers ++ ops ++ phases ++ Seq(
      ("spark.jobs_per_op", mean(opSpans.map(s => cs(s.id)._1.jobs.toDouble)), "count"),
      ("spark.nojob_s_per_op", mean(opSpans.map(s => cs(s.id)._1.nojobS)), "s")) ++
      m.ratios.toSeq.map { case (k, v) => (k, v, "frac") }
  }

  def writeSpans(path: Path, spans: Seq[Span], cs: Map[Int, (Counters, Double)]): Unit = {
    val lines = spans.map { s =>
      val (c, self) = cs(s.id)
      obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> s.ms0.toString, "s" -> num(s.seconds),
        "self_s" -> num(self), "jobs" -> c.jobs.toString,
        "tasks" -> c.tasks.toString, "cpu_s" -> num(c.cpuS),
        "shuffle_mb" -> num(c.shuffleMb), "out_mb" -> num(c.outMb),
        "nojob_s" -> num(c.nojobS)))
    }
    Files.write(path, lines.asJava)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
