package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{DcaFrame, LocalDca, Shape}
import graft.core.Indexing.Ix
import graft.core.Shape.Shape

/** What an op hands to the harness: a lazily planned result whose digest
  * is the sink, or a driver-local result that is already complete.
  */
sealed trait Out
final case class ToSink(df: DataFrame, rows: Option[Long] = None) extends Out
final case class Done(digest: Digest) extends Out

/** One timed operation. `call` is the engine call, including any eager
  * work it does (collects, staged builds, persist-and-count).
  */
final case class Op(name: String, call: () => Out)

trait Workload {
  /** The ops of one pass, in order. */
  def pass(): Seq[Op]
  /** The workload's own part of the between-pass release. */
  def release(): Unit = ()
  /** Expected digest of an op's output, if the workload has a reference. */
  def expected(op: String): Option[String] = None
  /** Untimed, after the last pass: cross-checks of the timed outputs,
    * given as each op's digest (the same in every pass). Returns the names
    * of ops whose outputs were wrong.
    */
  def verify(digests: Map[String, Digest]): Seq[String] = Nil
}

/** Registered queries run to a digest sink, in a fresh seeded order per
  * pass. Every query's digest must match its recorded reference, unless
  * the run is the one recording references (`expectedDigests` = None).
  *
  * The order shuffles groups, not queries: queries that share a staged
  * artifact form one group and keep their order, so the same query pays
  * the first-touch build in every pass. Otherwise the seed would decide
  * which op's latency carries the build.
  */
final class QueryPanel(spark: SparkSession, groups: Seq[Seq[String]], dir: String,
    expectedDigests: Option[Map[String, String]], seed: Long) extends Workload {
  private val registry = graft.SparkEntry.queries
  groups.flatten.foreach(n => require(registry.contains(n), s"unknown query $n"))
  private val rng = new scala.util.Random(seed)

  def pass(): Seq[Op] =
    rng.shuffle(groups).flatten.map(n => Op(n, () => ToSink(registry(n)(spark, dir))))
  /** Empty Spark's codegen cache, so that every pass compiles the same
    * classes. The panel needs about 107 classes and the cache keeps 100:
    * left alone, which queries find theirs cached depends on the seeded
    * order of the last passes. That took 35 to 88 recompiles a pass by
    * seed and order, and moved op latencies by up to 2x between passes.
    */
  override def release(): Unit = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val c = cache.invoke(CodeGenerator)
    c.getClass.getMethod("invalidateAll").invoke(c)
  }
  override def expected(op: String): Option[String] =
    expectedDigests.map(_.getOrElse(op, "no reference digest"))
}

object QueryPanel {
  /** mix_sf01: a family-stratified panel of the registry, one to three
    * queries per family (q, dca, t, d, sim, mm). The picks are cheap
    * queries, where the shared per-query floor (planning, codegen, job
    * chains, staged first-touch builds) dominates, and they include
    * operator and staged-cache users: the as-of join (q17), the shared
    * lineitem frame (dca_s2, dca_s7), exact dedup (d1), cosine top-k
    * (sim1) and pHash (mm7). q24 has no oracle and is never picked.
    */
  val mix: Seq[Seq[String]] = Seq(
    Seq("q1_agg"), Seq("q8_semi_join"), Seq("q17_asof_join"),
    Seq("dca_s2_reshape", "dca_s7_mask"), // both read the staged lineitem frame
    Seq("t1_token_count"), Seq("d1_exact_dedup"), Seq("sim1_cosine_topk"),
    Seq("mm7_image_phash"))
}

/** dca_batch: a seeded synthetic batch of `n` records with a `(3,)` float
  * field run through the DcaFrame index algebra, plus the same chain on a
  * `collectLocal()` prefix in its driver-local twin LocalDca.
  *
  * Each timed op's sink digests the frame's [[view]]. After the last pass
  * [[verify]] compares those digests with the LocalDca chain run on the
  * whole batch, and the distributed chain on the prefix with the timed
  * `local` op's results.
  *
  * Row `id` gets the unique sort key `(id * A + seed) mod n` (a seeded
  * permutation, so `fromDF` really sorts) and a seeded `pos` vector.
  */
final class DcaBatch(spark: SparkSession, seed: Long, n: Long, prefix: Long) extends Workload {
  import DcaBatch._
  require(java.lang.Long.bitCount(n) == 1 && n >= 4096, "n must be a power of two >= 4096")

  private def source(rows: Long): DataFrame = {
    val pos = (0 until 3).map { j =>
      ((pmod(xxhash64(col("id"), lit(seed), lit(j)), lit(2000001L)) - 1000000L)
        .cast("float") / 1000f).cast("float")
    }
    spark.range(rows).select(
      pmod(col("id") * lit(A) + lit(seed), lit(rows)).as("key"),
      array(pos: _*).as("pos"))
  }
  private def idx(rows: Long): Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(4096)(r.nextLong(2 * rows) - rows)
  }
  private val positive = element_at(col("pos"), 1) > 0f
  private def positiveRow(r: Row): Boolean = r.getSeq[Float](1).head > 0f

  /** The chain on a distributed frame `f1`, by step name. Each step is
    * planned only when called, so a timed op bills its own call.
    */
  private def chain(f1: DcaFrame): Map[String, () => DcaFrame] = {
    val rows = f1.size
    lazy val f2 = f1.reshape(math.max(16L, rows >> 12), -1)
    lazy val f4 = f2(Ix.S(None, None, -1), Ix.S(Some(1), None, 2))
    lazy val f4b = f2(Ix.All, Ix.S(Some(0), Some(f2.shape(1) / 2)))
    Map(
      "reshape" -> (() => f2),
      "reshapeEinops" -> (() => f2.reshapeEinops("a (b c) -> b a c", "c" -> 4L)),
      "apply" -> (() => f4),
      "mask" -> (() => f1.mask(positive)),
      "gather" -> (() => f1.gather(idx(rows))),
      "stack" -> (() => DcaFrame.stack(Seq(f4, f4b))),
      "concat" -> (() => DcaFrame.concat(Seq(f4, f4b), axis = 1)),
      "vectorizeZip" -> (() => f4.vectorizeZip(f4b)))
  }

  /** The same chain on the driver-local twin. */
  private def localChain(l1: LocalDca): Seq[(String, LocalDca)] = {
    val l2 = l1.reshape(math.max(16L, l1.size >> 12), -1)
    val l4 = l2(Ix.S(None, None, -1), Ix.S(Some(1), None, 2))
    val l4b = l2(Ix.All, Ix.S(Some(0), Some(l2.shape(1) / 2)))
    Seq(
      "reshape" -> l2,
      "reshapeEinops" -> l2.reshapeEinops("a (b c) -> b a c", "c" -> 4L),
      "apply" -> l4,
      "mask" -> l1.mask(positiveRow),
      "gather" -> l1.gather(idx(l1.size)),
      "stack" -> LocalDca.stack(Seq(l4, l4b)),
      "concat" -> LocalDca.concat(Seq(l4, l4b), axis = 1),
      "vectorizeZip" -> zipLocal(l4, l4b))
  }

  /** Local twin of `vectorizeZip` for two same-shape frames. */
  private def zipLocal(a: LocalDca, b: LocalDca): LocalDca = {
    val rSchema = StructType(b.schema.fields.map(f =>
      if (a.schema.fieldNames.contains(f.name)) f.copy(name = f.name + "_r") else f))
    LocalDca(a.rows.zip(b.rows).map { case (x, y) => Row.merge(x, y) },
      StructType(a.schema.fields ++ rSchema.fields), a.shape, a.statics ++ b.statics)
  }

  private def fromDF(src: DataFrame) =
    DcaFrame.fromDF(src, Seq(col("key")), Seq("key", "pos"))

  /** What a timed op's sink digests: the index columns, then the payload. */
  private def view(f: DcaFrame): DataFrame =
    f.df.select(f.idxCols.map(c => col(c).cast(LongType)) ++ f.arrayCols.map(col): _*)

  /** The digest of a local frame's [[view]]: index columns rebuilt from
    * the row-major position.
    */
  private def localDigest(l: LocalDca): Digest = {
    val st = Shape.strides(l.shape)
    val rows = l.rows.iterator.zipWithIndex.map { case (r, p) =>
      Row.fromSeq(l.shape.indices.map(i => p / st(i) % l.shape(i)) ++ r.toSeq)
    }
    val idx = DcaFrame.idxColNames(l.ndim).map(StructField(_, LongType))
    Digest.local(rows, StructType(idx ++ l.schema.fields))
  }

  /** Local results of the last pass's `local` op and the shapes of its
    * distributed results, kept for [[verify]].
    */
  private var lastLocal: Seq[(String, LocalDca)] = Nil
  private val shapes = scala.collection.mutable.Map[String, Shape]()

  def pass(): Seq[Op] = {
    var f1: DcaFrame = null
    var steps: Map[String, () => DcaFrame] = null
    def sink(name: String, f: DcaFrame) = {
      shapes(name) = f.shape
      ToSink(view(f), Some(f.size))
    }
    val first = Op("fromDF", () => {
      f1 = fromDF(source(n)); steps = chain(f1)
      sink("fromDF", f1)
    })
    val rest = Steps.map(name => Op(name, () => sink(name, steps(name)())))
    val local = Op("local", () => {
      val l1 = f1(Ix.S(Some(0L), Some(prefix))).collectLocal(prefix)
      lastLocal = ("collectLocal" -> l1) +: localChain(l1)
      Done(Digest(lastLocal.map(_._2.size).sum, lastLocal.map(_._2.rows.hashCode.toLong).sum))
    })
    first +: rest :+ local
  }

  override def verify(digests: Map[String, Digest]): Seq[String] = {
    val bad = (wholeBatch(digests) ++ prefixTwin()).distinct
    DcaFrame.releaseStaging(spark)
    bad
  }

  /** The timed results against the LocalDca chain on the whole batch,
    * which is built from the sorted source without DcaFrame: shapes must
    * be equal and digests of the two views the same. The local digests
    * run on all cores.
    */
  private def wholeBatch(digests: Map[String, Digest]): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val src = source(n)
    val l1 = LocalDca(src.collect().sortBy(_.getLong(0)).toVector, src.schema, Vector(n))
    val local = (("fromDF" -> l1) +: localChain(l1)).map { case (name, l) =>
      (name, l.shape, Future(localDigest(l)))
    }
    local.collect {
      case (name, shape, d) if !shapes.get(name).contains(shape) ||
          !digests.get(name).contains(Await.result(d, scala.concurrent.duration.Duration.Inf)) => name
    }
  }

  /** The chain on the distributed prefix against the timed `local` op's
    * LocalDca results: shapes must be equal and digests of the two views
    * (which hold each row's index) the same. A mismatch fails `local`: the
    * distributed ops are checked by [[wholeBatch]].
    */
  private def prefixTwin(): Seq[String] = {
    if (lastLocal.isEmpty) return Seq("local")
    // keys are 0 until n in sort order, so the prefix is `key < prefix`
    val p1 = fromDF(source(n).filter(col("key") < prefix))
    val steps = chain(p1)
    val dist = ("collectLocal" -> p1) +: Steps.map(k => k -> steps(k)())
    dist.zip(lastLocal).collect {
      case ((_, d), (_, l)) if d.shape != l.shape || Digest.sink(view(d))._1 != localDigest(l) => "local"
    }
  }

  /** Test hook: damage the `local` op's kept collectLocal result, so
    * [[verify]] must fail it.
    */
  def corruptLocal(): Unit =
    lastLocal = lastLocal.map { case (k, l) =>
      if (k == "collectLocal" && l.rows.nonEmpty) k -> l.copy(rows = l.rows.tail :+ l.rows.head) else k -> l
    }
}

object DcaBatch {
  /** Odd multiplier: `id * A mod 2^k` permutes 0 until 2^k. */
  val A = 2654435761L
  /** Batch size and the collectLocal prefix. */
  val Rows: Long = 1L << 20
  val Prefix: Long = 1L << 14
  /** The chain's steps after `fromDF`, in run order. */
  val Steps: Seq[String] = Seq("reshape", "reshapeEinops", "apply", "mask", "gather",
    "stack", "concat", "vectorizeZip")
}
