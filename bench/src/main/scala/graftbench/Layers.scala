package graftbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-layer metrics and span self times from the traced passes. */
object Layers {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  /** A `System.nanoTime` reading on the listeners' epoch-millisecond clock. */
  def epochMs(nanos: Long): Double = msBase + (nanos - nanoBase) / 1e6

  /** Cumulative codegen compile nanos and compiled-class count. */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Span depth in the op tree: op > fn, sink > plan phases, jobs > stages. */
  private def depth(l: String): Int = l match {
    case "op" => 0
    case "queries.fn" | "sink" => 1
    case "exec" => 3
    case _ => 2
  }
  private def group(l: String): String = if (l.startsWith("plan.")) "plan" else l
  val SelfLayers = Seq("queries.fn", "sink", "plan", "sched", "exec")

  /** Each instant of the op goes to the deepest span covering it, so the
    * self times of one op sum exactly to its wall time.
    */
  def selfTimes(r: Main.OpRun): Map[String, Double] = {
    val op = r.spans.head
    val all = (r.spans ++ r.rec.toSeq.flatMap(_.spans))
      .map(s => s.copy(start = math.max(s.start, op.start), end = math.min(s.end, op.end)))
      .filter(s => s.end > s.start)
    val cuts = all.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    cuts.zip(cuts.tail).map { case (a, b) =>
      val m = (a + b) / 2
      val owner = all.filter(s => s.start <= m && m < s.end).maxBy(s => depth(s.layer))
      group(owner.layer) -> (b - a)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Task-covered milliseconds of an op (union of task run intervals). */
  private def covered(rec: OpRecord): Double = {
    val iv = rec.taskIntervals.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + math.max(0L, curE - curS)).toDouble
  }

  val CoreOps = "fromDF" +: DcaBatch.Steps :+ "local"

  def perLayer(runs: Seq[Main.OpRun], passes: Int): Seq[(String, Double, String)] = {
    val p = math.max(1, passes).toDouble
    val recs = runs.flatMap(_.rec)
    def sum(f: OpRecord => Double) = recs.map(f).sum
    def perPass(f: OpRecord => Double) = sum(f) / p
    val mb = 1048576.0
    val wallMs = runs.map(_.latency * 1000).sum
    val builds = runs.map(_.builds).sum
    val accesses = runs.map(_.accesses).sum
    val self = runs.map(selfTimes)
    val withJoins = runs.filter(r => r.rec.exists(_.maxJoinRows > 0) && r.digest.isDefined)
    val joinRows = withJoins.map(_.rec.get.maxJoinRows).sum.toDouble
    def spanMs(layer: String) = perPass(_.spans.filter(_.layer == layer).map(_.ms).sum)
    Seq(
      ("queries.build_s", runs.map(_.call).sum / p, "s"),
      ("queries.eager_jobs", perPass(_.eagerJobs), "count"),
      ("staged.build_s", runs.map(_.staged).sum / p, "s"),
      ("staged.builds", builds / p, "count"),
      ("staged.hits", (accesses - builds) / p, "count"),
      ("staged.hit_ratio", if (accesses == 0) 0.0 else (accesses - builds).toDouble / accesses, "ratio"),
      ("plan.analysis_ms", spanMs("plan.analysis"), "ms"),
      ("plan.optimizer_ms", spanMs("plan.optimizer"), "ms"),
      ("plan.physical_ms", spanMs("plan.physical"), "ms"),
      ("codegen.compile_ms", perPass(_.codegenNs / 1e6), "ms"),
      ("codegen.classes", perPass(_.codegenClasses.toDouble), "count"),
      ("sched.jobs", perPass(_.jobs), "count"),
      ("sched.stages", perPass(_.stages), "count"),
      ("sched.tasks", perPass(_.tasks), "count"),
      ("sched.parallelism", if (wallMs == 0) 0.0 else sum(_.runMs.toDouble) / wallMs, "ratio"),
      ("sched.driver_ms", (wallMs - sum(covered)) / p, "ms"),
      ("exec.run_ms", perPass(_.runMs.toDouble), "ms"),
      ("exec.cpu_ms", perPass(_.cpuNs / 1e6), "ms"),
      ("exec.gc_ms", perPass(_.gcMs.toDouble), "ms"),
      ("exec.shuffle_read_mb", perPass(_.shufR / mb), "MiB"),
      ("exec.shuffle_write_mb", perPass(_.shufW / mb), "MiB"),
      ("exec.spill_mb", perPass(_.spill / mb), "MiB"),
      ("exec.input_mb", perPass(_.input / mb), "MiB"),
      ("exec.output_mb", perPass(_.output / mb), "MiB"),
      ("exec.peak_mem_mb", if (recs.isEmpty) 0.0 else recs.map(_.peakMem).max / mb, "MiB"),
      ("operators.verify_ratio",
        if (joinRows == 0) 0.0 else withJoins.map(_.digest.get.rows).sum / joinRows, "ratio")
    ) ++ SelfLayers.map(l => (s"self.${l}_ms", self.map(_.getOrElse(l, 0.0)).sum / p, "ms")) ++
      CoreOps.flatMap { op =>
        val rs = runs.filter(_.name == op)
        Seq((s"core.$op.call_s", Stats.median(rs.map(_.call)), "s"),
          (s"core.$op.sink_s", Stats.median(rs.map(_.sink)), "s"),
          (s"core.$op.exchanges", Stats.median(rs.flatMap(_.rec).map(_.exchanges.toDouble)), "count"))
      }.map { case (k, v, u) => (k, if (v.isNaN) 0.0 else v, u) }
  }

  /** Spans of the traced ops as trees (children by time containment). */
  def writeTrace(path: String, host: Seq[(String, String)], runs: Seq[Main.OpRun]): Unit = {
    def tree(s: Span, rest: Seq[Span]): String = {
      val kids = rest.filter(c => depth(c.layer) > depth(s.layer) &&
        c.start >= s.start && c.end <= s.end + 1)
      val direct = kids.filter(c => !kids.exists(p => p != c && depth(p.layer) < depth(c.layer) &&
        c.start >= p.start && c.end <= p.end + 1))
      Json.obj(Seq("layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "ms" -> Json.num(s.ms),
        "children" -> Json.arr(direct.map(c => tree(c, kids.filterNot(_ == c))))))
    }
    val ops = runs.map { r =>
      val all = r.spans ++ r.rec.toSeq.flatMap(_.spans)
      Json.obj(Seq("op" -> Json.str(r.name), "pass" -> r.pass.toString,
        "staged_build_s" -> Json.num(r.staged),
        "self_ms" -> Json.obj(selfTimes(r).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "span" -> tree(all.head, all.tail)))
    }
    val js = Json.obj(Seq("host" -> Json.obj(host), "ops" -> Json.arr(ops)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), js + "\n")
  }
}
