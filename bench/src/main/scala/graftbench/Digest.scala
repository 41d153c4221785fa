package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a multiset of rows: the row count plus the
  * wrapping sum of a 64-bit hash over EVERY column. Like the `noop` sink,
  * computing it forces every output column; unlike `count()`, Catalyst
  * cannot prune a payload expression away.
  */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  /** Doubles are rounded to float precision before hashing, so a
    * summation-order wobble in the last bits of an aggregate does not
    * read as a wrong answer; maps are hashed as key-sorted entry arrays
    * (Spark refuses to hash map columns).
    */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.nonEmpty =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** The digest's projection over `df` — one hash column. */
  def hashed(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType)
    }
    df.select((if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("h"))
  }

  /** Run the digest as the op's sink: one job, no exchange of its own (the
    * sums are folded per partition and combined on the driver), so the
    * sink's executed plan carries exactly the op's own exchanges. The
    * execution is unnamed, so QueryExecutionListeners do not see it: the
    * caller records the returned QueryExecution itself, once.
    *
    * @return the digest and the sink's QueryExecution (for plan metrics)
    */
  def sink(df: DataFrame): (Digest, QueryExecution) = {
    val qe = hashed(df).queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, None) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r: InternalRow => n += 1; h += r.getLong(0) }
        Iterator.single((n, h))
      }.collect()
    }
    (Digest(parts.map(_._1).sum, parts.map(_._2).sum), qe)
  }

  /** The digest [[sink]] gives for `rows` of `schema`, computed on the
    * driver with the interpreted form of the same hash. Only for schemas
    * that [[norm]] leaves as they are: no doubles and no maps.
    */
  def local(rows: Iterator[Row], schema: StructType): Digest = {
    def plain(dt: DataType): Boolean = dt match {
      case DoubleType | _: MapType => false
      case ArrayType(et, _) => plain(et)
      case StructType(fs) => fs.forall(f => plain(f.dataType))
      case _ => true
    }
    require(schema.fields.forall(f => plain(f.dataType)), s"no local digest for $schema")
    val types = schema.fields.map(_.dataType)
    val conv = types.map(CatalystTypeConverters.createToCatalystConverter)
    var n = 0L; var h = 0L
    rows.foreach { r =>
      // xxhash64's default seed; null columns leave the hash unchanged
      var x = 42L
      for (i <- types.indices) {
        val v = conv(i)(r.get(i))
        if (v != null) x = XxHash64Function.hash(v, types(i), x)
      }
      n += 1; h += x
    }
    Digest(n, h)
  }
}
