package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.util.Random

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, FieldVector, Float8Vector, IntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Filter, FilterOp}

/**
 * The TPC-H `lineitem` shape (FIXTURES.md §4), generated in Spark from the
 * seed: every column is a hash of (row id, seed, column), so the same seed
 * gives the same bytes. Shard `s` holds the contiguous id range
 * [s·n/shards, (s+1)·n/shards) (column `shard`, one range partition each),
 * so `l_orderkey` ranges are disjoint per shard, as they are for date- or
 * key-partitioned shards. About 2% of `l_discount` is null so
 * `count`/`count_na` differ.
 */
final class Lineitem(val rows: Long, val shards: Int, seed: Long)
    extends Domain {

  def shardRange(s: Int): (Long, Long) =
    (s * rows / shards, (s + 1) * rows / shards)

  def shardRows(s: Int): Long = { val (a, b) = shardRange(s); b - a }

  val parts: Long = math.max(700L, rows / 30)
  val suppliers: Long = math.max(10L, rows / 600)

  private def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
  private def u(k: Int, n: Long): Column = pmod(h(k), lit(n))

  def table(spark: SparkSession): DataFrame = {
    val qty = (u(4, 50) + 1).cast("double")
    spark.range(0, rows, 1, shards).select(
      (col("id") * shards / rows).cast("int").as("shard"),
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (u(1, parts) + 1).as("l_partkey"),
      (u(2, suppliers) + 1).as("l_suppkey"),
      (u(3, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * ((u(5, 100000) + 90000) / 100.0)).as("l_extendedprice"),
      when(u(6, 50) === 0, lit(null).cast("double"))
        .otherwise(u(7, 11) / 100.0).as("l_discount"),
      (u(8, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (u(9, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (u(10, 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(11, 2500) * 86400)
        .as("l_shipdate"))
  }

  /** User bytes: 8 per long/double/timestamp, 4 per int, UTF-8 length
    * per string (both are one letter), none for a null. */
  def userBytes(rows: Long, nonNullDiscounts: Long): Long =
    rows * (8 * 3 + 4 + 8 * 2 + 8 + 1 + 1 + 8) + nonNullDiscounts * 8

  val dims: Vector[String] =
    Vector("l_returnflag", "l_linestatus", "l_linenumber")
  val wideDim: Option[String] = Some("l_suppkey")
  val measures: Vector[String] =
    Vector("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val columns: Set[String] = Set("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  def filter(op: FilterOp, r: Random): Filter = op match {
    // the reference's 700-value `in` list (tests/test_parquery.py:1134)
    case FilterOp.In => Filter("l_partkey", op,
      Vector.fill(700)(1L + r.nextInt(parts.toInt)).distinct)
    case FilterOp.NotIn => Filter("l_linenumber", op,
      Vector.fill(2)(1 + r.nextInt(7)).distinct)
    case FilterOp.Eq => Filter("l_returnflag", op, Vector("A", "N", "R")(r.nextInt(3)))
    case FilterOp.Ne => Filter("l_linestatus", op, Vector("F", "O")(r.nextInt(2)))
    case FilterOp.Gt => Filter("l_quantity", op, (1 + r.nextInt(40)).toDouble)
    case FilterOp.Ge => Filter("l_discount", op, r.nextInt(8) / 100.0)
    case FilterOp.Lt => Filter("l_shipdate", op,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        694224000L + (500 + r.nextInt(2000)) * 86400L)))
    case FilterOp.Le => Filter("l_extendedprice", op,
      20000.0 + r.nextInt(60000))
  }

  /** Order keys of shard `s`, inclusive: ids [a, b) hold keys a/4+1 ..
    * (b-1)/4+1. */
  def shardKeys(s: Int): (Long, Long) = {
    val (a, b) = shardRange(s)
    (a / 4 + 1, (b - 1) / 4 + 1)
  }

  /** 50 order keys (~200 rows) inside one of the op's shards. */
  def narrow(r: Random, shards: Vector[Int]): Vector[Filter] = {
    val (kLo, kHi) = shardKeys(shards(r.nextInt(shards.size)))
    val lo = kLo + r.nextInt(math.max(1L, kHi - kLo - 48).toInt)
    Vector(Filter("l_orderkey", FilterOp.Ge, lo),
      Filter("l_orderkey", FilterOp.Lt, lo + 50))
  }

  /** Registry aggregates whose results are exact (sums of whole numbers,
    * counts, min/max), so the oracle compare needs no rounding slack;
    * each scans the whole table once and groups by flag/status. */
  override val registryQueries: Vector[String] =
    Vector("q_agg_sum", "q_agg_count", "q_agg_min_max")
}

/** One publish batch's values, column-major; null is a missing `f4`. */
final case class Batch(f0: Array[String], f1: Array[Double],
    f2: Array[Long], f3: Array[Int], f4: Array[java.lang.Double],
    f5: Array[Long], f6: Array[Int]) {
  /** 8 bytes per long/double, 4 per int, UTF-8 length per string, none
    * for a null. */
  def userBytes: Long =
    f0.map(_.getBytes(UTF_8).length.toLong).sum + f0.length * (8L + 8 + 4 + 8 + 4) +
      f4.count(_ != null) * 8L
}

/**
 * Publish batches in the reference's canonical 7-column shape
 * (FIXTURES.md §1): dims f0 string, f1 double, f2 int64, f3 int32;
 * measures f4 double with the NA variant's nulls (every 5th row), f5 int64;
 * and `f-6` int32, whose hyphen exercises the reference's name mangling.
 * Batches are Arrow IPC streams written here with Arrow itself, so the
 * program's own serializer never builds its inputs.
 */
final class PublishBatches(val rowsPerBatch: Int, seed: Long) {

  val columns: Vector[String] =
    Vector("f0", "f1", "f2", "f3", "f4", "f5", "f-6")

  def batch(j: Long): Batch = {
    val r = Gen.rng(seed, Gen.DataStream, j)
    val n = rowsPerBatch
    // cycled a..e, or the reference's skewed a×2 b×3 c×5 on odd batches
    val f0 = if (j % 2 == 0) Vector("a", "b", "c", "d", "e")
             else Vector("a", "a", "b", "b", "b", "c", "c", "c", "c", "c")
    Batch(
      Array.tabulate(n)(i => f0(i % f0.size)),
      Array.tabulate(n)(i => if (i % 2 == 0) 1.1 else 1.2),
      Array.tabulate(n)(i => (i % 3 + 1).toLong),
      Array.tabulate(n)(i => i % 3 + 1),
      Array.tabulate(n)(i =>
        if (i % 5 == 4) null else java.lang.Double.valueOf(r.nextDouble())),
      Array.fill(n)((r.nextInt(21) - 10).toLong),
      Array.fill(n)(r.nextInt(21) - 10))
  }

  def base64(b: Batch): String = {
    val alloc = new RootAllocator()
    val v0 = new VarCharVector("f0", alloc)
    val v1 = new Float8Vector("f1", alloc)
    val v2 = new BigIntVector("f2", alloc)
    val v3 = new IntVector("f3", alloc)
    val v4 = new Float8Vector("f4", alloc)
    val v5 = new BigIntVector("f5", alloc)
    val v6 = new IntVector("f-6", alloc)
    val vs: Seq[FieldVector] = Seq(v0, v1, v2, v3, v4, v5, v6)
    try {
      vs.foreach(_.allocateNew())
      for (i <- 0 until rowsPerBatch) {
        v0.setSafe(i, b.f0(i).getBytes(UTF_8))
        v1.setSafe(i, b.f1(i)); v2.setSafe(i, b.f2(i)); v3.setSafe(i, b.f3(i))
        if (b.f4(i) == null) v4.setNull(i) else v4.setSafe(i, b.f4(i))
        v5.setSafe(i, b.f5(i)); v6.setSafe(i, b.f6(i))
      }
      vs.foreach(_.setValueCount(rowsPerBatch))
      val out = new ByteArrayOutputStream()
      val w = new ArrowStreamWriter(VectorSchemaRoot.of(vs: _*), null, out)
      w.start(); w.writeBatch(); w.end(); w.close()
      Base64.getEncoder.encodeToString(out.toByteArray)
    } finally {
      vs.foreach(_.close())
      alloc.close()
    }
  }
}

/** The report domain over published shards, after name mangling. */
object PublishDomain extends Domain {
  val dims: Vector[String] = Vector("f0", "f2", "f3")
  val wideDim: Option[String] = None
  val measures: Vector[String] = Vector("f1", "f4", "f5", "f_n_6")
  val columns: Set[String] =
    Set("f0", "f1", "f2", "f3", "f4", "f5", "f_n_6")

  def filter(op: FilterOp, r: Random): Filter = op match {
    case FilterOp.In => Filter("f5", op,
      Vector.fill(700)(r.nextInt(2001) - 1000L).distinct)
    case FilterOp.NotIn => Filter("f0", op,
      r.shuffle(Vector("a", "b", "c", "d", "e")).take(1 + r.nextInt(3)))
    case FilterOp.Eq => Filter("f3", op, 1 + r.nextInt(3))
    case FilterOp.Ne => Filter("f0", op, Vector("a", "b", "c")(r.nextInt(3)))
    case FilterOp.Gt => Filter("f4", op, r.nextDouble() * 0.8)
    case FilterOp.Ge => Filter("f_n_6", op, r.nextInt(15) - 10)
    case FilterOp.Lt => Filter("f5", op, r.nextInt(15) - 4L)
    case FilterOp.Le => Filter("f1", op, 1.1)
  }

  def narrow(r: Random, shards: Vector[Int]): Vector[Filter] =
    Vector(Filter("f5", FilterOp.Eq, r.nextInt(21) - 10L),
      Filter("f_n_6", FilterOp.Eq, r.nextInt(21) - 10))
}
