package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, min, when}

import graft.queries.Staged

/** Closed-loop benchmark harness: one client, one op in flight, on
  * `local[cpus]`. After set-up (session start plus untimed warm-up
  * passes) it runs passes over the workload's ops
  * until `--seconds` are spent, releasing every staged cache (and the
  * workload's own state, see Workload.release) between passes, then
  * checks outputs and prints one JSON result line.
  *
  *   Main --workload mix_sf01|dca_batch --seed N --seconds S
  *        --trace 0|1 --data DIR --expected FILE
  *        [--trace-out FILE] [--corrupt OP] [--record FILE]
  *
  * `--record` writes every op's digests instead of checking them.
  * `--corrupt OP` damages OP's output in every pass, for the self-test
  * (`local`: its collectLocal result, before the checks).
  *
  * With `--trace 1` at least four passes run, half of them traced; the
  * traced ones yield the per-layer metrics and the spans written to
  * `--trace-out`.
  */
object Main {
  /** One executed op. */
  final case class OpRun(name: String, pass: Int, traced: Boolean, latency: Double,
      call: Double, sink: Double, staged: Double, builds: Int, accesses: Int,
      digest: Option[Digest], ok: Boolean, rec: Option[OpRecord], spans: Seq[Span])

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val master = s"local[$cpus]"

    val spark = graft.GraftSession.builder(master, cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = secs(t0)
    val probe = if (trace) Probe.install(spark) else null

    val expected = if (a.contains("record")) None else Some(readDigests(a("expected")))
    val w: Workload = workload match {
      case "mix_sf01" => new QueryPanel(spark, QueryPanel.mix, a("data"), expected, seed)
      case "dca_batch" => new DcaBatch(spark, seed, DcaBatch.Rows, DcaBatch.Prefix)
      case other => sys.error(s"unknown workload $other")
    }

    // warm-up: two untimed full passes, each followed by the between-pass
    // release. In a fresh JVM the first runs 3-5x slower than later passes:
    // the first Spark job alone takes 5-7 s, and codegen, JIT and one-time
    // library loads add the rest. After two, a pass of DcaBatch's chain
    // runs within 5% of later ones; a third mix_sf01 pass (about 8 s) would
    // not fit a run of about a minute.
    val tWarm = System.nanoTime()
    val cgWarm = Layers.codegen()
    val warm = (-2 to -1).flatMap { p =>
      val rs = w.pass().map(op => runOp(spark, op, p, traced = false, probe, w, a.get("corrupt")))
      release(spark, w)
      rs
    }
    val warmup = secs(tWarm)
    val warmCodegen = Layers.codegen()
    val setup = secs(t0)
    val runs = ArrayBuffer[OpRun]()
    val passWalls = ArrayBuffer[(Boolean, Double)]()
    val passClasses = ArrayBuffer[Long]()
    var cachedPeak = 0L
    val tRun = System.nanoTime()
    var pass = 0
    // whole passes until `seconds` have passed (the last one may run
    // over): the pass count then only changes when a pass crosses
    // seconds/k, so wall_s and the op quantiles do not jump with noise
    def more: Boolean = pass == 0 || (trace && pass < 4) || secs(tRun) < seconds
    while (more) {
      // traced passes in an ABBA pattern (untraced, traced, traced,
      // untraced, ...), so the speed-up over a run cancels out of the
      // tracing overhead
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      if (probe != null) probe.on = traced
      val tp = System.nanoTime()
      val cgp = Layers.codegen()._2
      w.pass().foreach { op =>
        runs += runOp(spark, op, pass, traced, probe, w, a.get("corrupt"))
        cachedPeak = math.max(cachedPeak, cachedBytes(spark))
      }
      passWalls += ((traced, secs(tp)))
      passClasses += Layers.codegen()._2 - cgp
      pass += 1
      release(spark, w)
    }
    if (probe != null) probe.on = false
    w match {
      case d: DcaBatch if a.get("corrupt").contains("local") => d.corruptLocal()
      case _ => ()
    }
    // the inputs are seeded, so an op's output must be the same in every
    // pass; the workload cross-checks that one output
    val digests = (warm ++ runs).groupBy(_.name).map { case (k, rs) => k -> rs.flatMap(_.digest).distinct }
    val unsteady = digests.collect { case (k, ds) if ds.size > 1 => k }
    unsteady.foreach(k => System.err.println(s"[graftbench] $k: output differs between passes"))
    val failedVerify = unsteady.toSet ++ w.verify(digests.collect { case (k, Seq(d)) => k -> d })

    a.get("record").foreach { f =>
      val js = runs.filter(_.digest.isDefined).groupBy(_.name).toSeq.sortBy(_._1).map { case (k, rs) =>
        Json.str(k) + ":" + Json.arr(rs.map(r => Json.str(r.digest.get.toString)))
      }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), js + "\n")
    }

    // a failed op is an exception, a digest mismatch, or a failed cross-check
    val failed = runs.count(r => !r.ok || failedVerify.contains(r.name))
    val untraced = runs.filterNot(_.traced)
    // an op's latency is its mean over the run's passes; op_s.p50 is the
    // median of those, op_s.tail the 80th percentile of all op latencies.
    // Both, and wall_s, are Harrell-Davis estimates: latencies cluster by
    // op, and a single order statistic jumps between clusters from run to
    // run. A mix_sf01 run holds 27 latencies, so a 90th percentile would
    // keep 2-3 samples above it
    val byOp = untraced.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, rs) =>
      k -> rs.map(_.latency).sum / rs.size
    }
    val lat = untraced.map(_.latency).toSeq
    val tail = Stats.hd(lat, 0.8)
    val host = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "nproc" -> cpus.toString, "master" -> Json.str(master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "commit" -> Json.str(sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown")),
      "cwd" -> Json.str(new java.io.File(".").getCanonicalPath),
      "warmup_codegen_ms" -> Json.num((warmCodegen._1 - cgWarm._1) / 1e6),
      "warmup_codegen_classes" -> (warmCodegen._2 - cgWarm._2).toString,
      "pass_walls_s" -> Json.arr(passWalls.map(p => Json.num(p._2))),
      "pass_codegen_classes" -> Json.arr(passClasses.map(_.toString)), "ops" -> runs.size.toString,
      "failed_ops" -> Json.arr(runs.filter(r => !r.ok || failedVerify.contains(r.name))
        .map(r => Json.str(s"${r.name}#${r.pass}")).distinct),
      "fail_frac" -> Json.num(failed.toDouble / math.max(1, runs.size)),
      "op_s.n" -> lat.size.toString, "op_s.above_tail" -> lat.count(_ > tail).toString,
      "op_s.by_op" -> Json.obj(byOp.map { case (k, v) => k -> Json.num(v) }))
    println("host " + Json.obj(host))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setup, "s"),
        ("wall_s", Stats.hd(passWalls.map(_._2).toSeq, 0.5), "s"),
        ("op_s.p50", Stats.hd(byOp.map(_._2), 0.5), "s"),
        ("op_s.tail", tail, "s"),
        ("cached_peak_mb", cachedPeak / 1048576.0, "MiB"))
      else {
        val layers = Layers.perLayer(runs.filter(_.traced).toSeq, passWalls.count(_._1))
        val wallT = Stats.median(passWalls.filter(_._1).map(_._2).toSeq)
        val wallU = Stats.median(passWalls.filterNot(_._1).map(_._2).toSeq)
        Seq(("session.start_s", sessionStart, "s"), ("session.warmup_s", warmup, "s")) ++
          layers ++ Seq(("trace.wall_s", wallT, "s"), ("trace.overhead_s", wallT - wallU, "s"))
      }
    println("summary " + metrics.map { case (k, v, u) => f"$k=$v%.4f$u" }.mkString(" "))
    if (trace) a.get("trace-out").foreach(f => Layers.writeTrace(f, host, runs.filter(_.traced).toSeq))
    spark.stop()
    val mjs = metrics.map { case (k, v, u) =>
      Json.str(k) + ":" + Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":${runs.size},"failed":$failed,"metrics":$mjs}""")
  }

  private def secs(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** The between-pass step: release every staged cache and the workload's
    * own state, then collect the garbage, so that each pass starts from the
    * same heap and cache state.
    */
  private def release(spark: SparkSession, w: Workload): Unit = {
    Staged.release(spark)
    w.release()
    System.gc()
  }

  /** Run one op: the engine call, then its digest sink. */
  private def runOp(spark: SparkSession, op: Op, pass: Int, traced: Boolean, probe: Probe,
      w: Workload, corrupt: Option[String]): OpRun = {
    val sc = spark.sparkContext
    if (traced) probe.begin()
    val cg0 = Layers.codegen()
    Staged.stagingByKey.clear()
    Staged.accessLog.clear()
    val st0 = Staged.stagingNanos.get()
    val t0 = System.nanoTime()
    var t1 = t0
    var digest: Option[Digest] = None
    var rowsOk = true
    val ok = try {
      sc.setLocalProperty(Probe.PhaseKey, "fn")
      val out = op.call() match {
        case ToSink(df, rows) if corrupt.contains(op.name) => ToSink(corrupted(df), rows)
        case o => o
      }
      t1 = System.nanoTime()
      sc.setLocalProperty(Probe.PhaseKey, "sink")
      out match {
        case ToSink(df, rows) =>
          val (d, qe) = Digest.sink(df)
          if (traced) probe.record(qe)
          digest = Some(d)
          rowsOk = rows.forall(_ == d.rows)
        case Done(d) => digest = Some(d)
      }
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[graftbench] ${op.name} (pass $pass) failed: $e")
        false
    } finally sc.setLocalProperty(Probe.PhaseKey, null)
    val t2 = System.nanoTime()
    val staged = (Staged.stagingNanos.get() - st0) / 1e9
    val builds = Staged.stagingByKey.size
    val accesses = Staged.accessLog.size
    val rec = if (traced) Some(probe.end()) else None
    rec.foreach { r =>
      val cg = Layers.codegen()
      r.codegenNs = cg._1 - cg0._1
      r.codegenClasses = cg._2 - cg0._2
    }
    val expect = w.expected(op.name)
    val good = ok && rowsOk && expect.forall(e => digest.map(_.toString).contains(e))
    if (ok && !good) System.err.println(s"[graftbench] ${op.name} (pass $pass) wrong output: " +
      s"${digest.orNull}, expected ${expect.getOrElse("the shape's size in rows")}")
    val ms = Layers.epochMs _
    val spans = Seq(Span("op", op.name, ms(t0), ms(t2)),
      Span("queries.fn", "call", ms(t0), ms(t1)), Span("sink", "sink", ms(t1), ms(t2)))
    OpRun(op.name, pass, traced, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
      (t2 - t1) / 1e9, staged, builds, accesses, digest, good, rec, spans)
  }

  /** `df` with its last column nulled in the rows whose first column holds
    * its smallest value: wrong values, the same row count, in every pass.
    */
  private def corrupted(df: DataFrame): DataFrame = {
    def c(i: Int) = df.col("`" + df.columns(i).replace("`", "``") + "`")
    val least = df.agg(min(c(0))).head.get(0)
    df.withColumn(df.columns.last, when(c(0) === lit(least), lit(null)).otherwise(c(df.columns.length - 1)))
  }

  /** Bytes of cached or persisted blocks, memory plus disk. */
  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** `{"name": "rows:hash", ...}`; a missing file means no references. */
  private def readDigests(path: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    val s = if (java.nio.file.Files.exists(p)) java.nio.file.Files.readString(p) else ""
    "\"([^\"]+)\"\\s*:\\s*\\[?\\s*\"([0-9]+:[0-9a-f]{16})\"".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}

object Stats {
  /** The Harrell-Davis estimate of the `p`-quantile: the mean of all order
    * statistics, weighted by the Beta(p(n+1), (1-p)(n+1)) density over
    * their share of [0, 1] (midpoint rule, 256 points per share).
    */
  def hd(xs: Seq[Double], p: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(Double.NaN)
    else {
      val s = xs.sorted; val n = s.size; val k = 256
      val (a, b) = (p * (n + 1) - 1, (1 - p) * (n + 1) - 1)
      val logDensity = (0 until n * k).map { j =>
        val t = (j + 0.5) / (n * k)
        a * math.log(t) + b * math.log(1 - t)
      }
      val top = logDensity.max
      val w = logDensity.map(l => math.exp(l - top)).grouped(k).map(_.sum).toSeq
      s.zip(w).map { case (x, wi) => x * wi }.sum / w.sum
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
