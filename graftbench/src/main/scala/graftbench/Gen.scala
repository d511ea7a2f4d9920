package graftbench

import scala.util.Random

import graft.{AggOp, Filter, FilterOp}

/**
 * Seeded inputs. Every op is a pure function of (seed, stream, op index):
 * nothing depends on elapsed time, so a faster program runs more ops of
 * the same sequence, never different ones.
 */
object Gen {

  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): Random =
    new Random(splitmix64(splitmix64(splitmix64(seed) ^ stream) ^ i))

  /** Streams, so warm-up and timed ops never share a sequence. */
  val TimedStream = 1L
  val WarmupStream = 2L
  val DataStream = 3L

  /** Slot of op `i` in its block of `n`: a seeded permutation of 0 until
    * n per block, so every block holds every slot once, in its own order. */
  def slot(seed: Long, stream: Long, i: Long, n: Int): Int = {
    val perm = rng(seed, stream ^ 0x5157L, i / n).shuffle((0 until n).toVector)
    perm((i % n).toInt)
  }
}

/** Which reference edge case an op exercises (M1/M2/M3/M4 per the
  * reference's schema-drift contract), or a plain aggregation / raw read. */
sealed abstract class Kind(val name: String)
object Kind {
  case object Agg extends Kind("agg")
  case object Raw extends Kind("raw")
  case object MissingShard extends Kind("m1_missing_shard")
  case object AllColsMissing extends Kind("m2_all_cols_missing")
  case object SomeColsMissing extends Kind("m3_some_cols_missing")
  case object FilterColMissing extends Kind("m4_filter_col_missing")
  case object Registry extends Kind("registry")
  val edge: Vector[Kind] =
    Vector(MissingShard, AllColsMissing, SomeColsMissing, FilterColMissing)
}

/** One `aggregatePqShards` call, or (kind [[Kind.Registry]]) one
  * `SparkEntry.queries(query)` call over the whole table. `shards` index
  * the table's shard list; `missingShard` adds a path that does not exist. */
final case class ReportSpec(
    kind: Kind,
    shards: Vector[Int],
    missingShard: Boolean,
    dims: Vector[String],
    measures: Vector[Vector[String]],
    filters: Vector[Filter],
    aggregate: Boolean,
    query: Option[String] = None)

/** What the report generator may ask of a table: its low-cardinality
  * dims, an optional high-cardinality dim, measures, filters, the column
  * it can narrow raw reads with, and the registry queries that run on it. */
trait Domain {
  def dims: Vector[String]
  def wideDim: Option[String]
  def measures: Vector[String]
  def columns: Set[String]
  /** One filter with operator `op`, values drawn from `r`. */
  def filter(op: FilterOp, r: Random): Filter
  /** A filter that keeps a few hundred rows of one of `shards`, for raw
    * reads. */
  def narrow(r: Random, shards: Vector[Int]): Vector[Filter]
  /** `SparkEntry` queries over this table as `<dir>/lineitem.parquet`;
    * empty if the registry cannot read it. */
  def registryQueries: Vector[String] = Vector.empty
}

object ReportGen {

  val MissingCol = "col_added_later"

  /** Ops per block: every block of this many ops has the same cost mix. */
  val Block = 16

  /**
   * Op `i` of a stream. What drives an op's cost is a function of its slot
   * in its block of [[Block]] ops, and every block holds every slot once
   * (in a seeded order), so every block — and so every run, whatever the
   * seed and however far it gets — runs nearly the same cost mix. Per slot
   * `s`: 1 + s % 8 shards; slot 5 an edge case (M1..M4, rotating by block),
   * slot 13 a raw read, slot 9 a registry query over the whole table where
   * the domain has any (rotating by block), the rest aggregate; slots 0, 4,
   * 8, 12 group by the wide dim; agg ops (3s + j) % 10 cover all ten
   * `AggOp`s, measure columns rotate, and filters (s + 3j) % 8 cover all
   * eight `FilterOp`s.
   * The seed picks the order, the shards, the other dims and filter values.
   */
  def spec(d: Domain, nShards: Int, maxShards: Int, seed: Long,
           stream: Long, i: Long): ReportSpec = {
    val r = Gen.rng(seed, stream, i)
    val s = Gen.slot(seed, stream, i, Block)
    val k = 1 + s % maxShards
    val shards = r.shuffle((0 until nShards).toVector).take(k).sorted
    val kind =
      if (s == 5) Kind.edge(((i / Block) % Kind.edge.size).toInt)
      else if (s == 13) Kind.Raw
      else if (s == 9 && d.registryQueries.nonEmpty) Kind.Registry
      else Kind.Agg
    val nDims = 1 + (s / 2) % 3
    val low = r.shuffle(d.dims)
    val dims = d.wideDim.filter(_ => s % 4 == 0)
      .fold(low.take(nDims))(w => w +: low.take(nDims - 1))
    val nMeas = 1 + (s / 4 + s) % 3
    val measures = (0 until nMeas).toVector.map { j =>
      val op = AggOp.all((s * 3 + j) % AggOp.all.size)
      val in = d.measures((s + j) % d.measures.size)
      Vector(in, op.name, s"${in}_${op.name}_$j")
    }
    val filters = (0 until s % 3).toVector.map { j =>
      d.filter(FilterOp.all((s + 3 * j) % FilterOp.all.size), r)
    }
    val base = ReportSpec(Kind.Agg, shards, missingShard = false, dims,
      measures, filters, aggregate = true)
    kind match {
      case Kind.Agg => base
      case Kind.Raw =>
        base.copy(kind = kind, measures = measures.take(1),
          filters = d.narrow(r, shards), aggregate = false)
      case Kind.Registry =>
        val qs = d.registryQueries
        base.copy(kind = kind, shards = (0 until nShards).toVector,
          query = Some(qs(((i / Block) % qs.size).toInt)))
      case Kind.MissingShard => base.copy(kind = kind, missingShard = true)
      case Kind.AllColsMissing =>
        base.copy(kind = kind, dims = Vector(MissingCol),
          measures = Vector(Vector(MissingCol + "_m", "sum",
            MissingCol + "_m")))
      case Kind.SomeColsMissing =>
        base.copy(kind = kind, dims = dims :+ MissingCol,
          measures = measures :+ Vector(MissingCol + "_m", "mean",
            MissingCol + "_m"))
      case Kind.FilterColMissing =>
        base.copy(kind = kind,
          filters = filters :+ Filter(MissingCol, FilterOp.Ge, 0L))
    }
  }
}
