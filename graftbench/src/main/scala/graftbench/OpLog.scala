package graftbench

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Base64

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

import graft.{Filter, SparkEntry}

/**
 * The op log: one JSON line per timed op with its spec, the shards it read,
 * its Arrow IPC result, for a registry query its DuckDB oracle SQL, and, for
 * publishes, the sums the published shard and any compaction must hold.
 * graftbench/check.py checks every line against DuckDB after the run, so no
 * check time lands in a measurement.
 */
object OpLog {

  /** A filter value with its type, so the checker writes the same literal. */
  private def typed(v: Any): Map[String, Any] = v match {
    case s: String => Json.obj("t" -> "string", "v" -> s)
    case d: Double => Json.obj("t" -> "double", "v" -> d)
    case l: Long   => Json.obj("t" -> "long", "v" -> l)
    case i: Int    => Json.obj("t" -> "int", "v" -> i)
    case t: java.sql.Timestamp => Json.obj("t" -> "timestamp",
      "v" -> t.toInstant.toString.replace("T", " ").stripSuffix("Z"))
    case other => throw new IllegalArgumentException(s"filter value $other")
  }

  private def filter(f: Filter): Map[String, Any] = Json.obj(
    "col" -> f.column, "op" -> f.op.name,
    "value" -> (f.value match {
      case vs: Seq[_] => vs.map(typed)
      case v          => typed(v)
    }))

  def write(path: Path, recs: Seq[Rec], w: Workload): Unit = {
    val lines = recs.map { r =>
      val s = r.spec
      Json.write(Json.obj("i" -> r.i, "kind" -> s.kind.name, "op_ms" -> r.opMs,
        "read_ms" -> r.readMs, "present" -> r.present,
        "columns" -> w.domainColumns.toSeq.sorted,
        "dims" -> s.dims, "measures" -> s.measures,
        "filters" -> s.filters.map(filter), "aggregate" -> s.aggregate,
        "result" -> Base64.getEncoder.encodeToString(r.result),
        "published" -> w.expectedSums(r),
        "oracle" -> s.query.map(SparkEntry.oracleSql).orNull))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Rows in an Arrow IPC stream. */
  def arrowRows(bytes: Array[Byte]): Long = {
    val alloc = new RootAllocator()
    try {
      val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
      try {
        var n = 0L
        while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
        n
      } finally reader.close()
    } finally alloc.close()
  }
}
