package graftbench

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** Order-independent digest of a multiset of rows: the row count and the
  * wrapping sum of one 64-bit hash per row. Columns enter a row hash in
  * name order, so two results with the same columns in another order, or
  * the same rows in another order, have equal digests. Values hash by what
  * they denote, not by their type: every integer width hashes as a long,
  * and a timestamp hashes as its microseconds since the epoch. */
final case class Digest(rows: Long, sum: Long, columns: Seq[String]) {
  override def toString: String = f"$rows rows, hash $sum%016x, columns ${columns.mkString(",")}"
}

object Digest {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def value(v: Any): Long = v match {
    case null => 0x5BD1E995L
    case l: java.lang.Long => mix(l)
    case i: java.lang.Integer => mix(i.longValue)
    case d: java.lang.Double => mix(java.lang.Double.doubleToLongBits(d + 0.0))
    case f: java.lang.Float => value(java.lang.Double.valueOf(f.doubleValue))
    case b: java.lang.Boolean => mix(if (b) 1L else 2L)
    case t: java.sql.Timestamp => mix(micros(t))
    case t: java.time.Instant => mix(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case s: String => mix(scala.util.hashing.MurmurHash3.stringHash(s).toLong)
    case t: org.apache.arrow.vector.util.Text => value(t.toString)
    case other => throw new IllegalArgumentException(
      s"no digest for ${other.getClass.getName}")
  }

  /** Hash of one row whose values are already in column-name order. */
  def row(values: Iterable[Any]): Long =
    values.foldLeft(17L)((h, v) => mix(h ^ value(v)))

  /** Digest of rows given as column-name → value maps. */
  def ofMaps(rows: Iterable[Map[String, Any]], columns: Seq[String]): Digest = {
    val cols = columns.sorted
    Digest(rows.size.toLong, rows.iterator.map(r => row(cols.map(r))).sum, cols)
  }

  /** Digest of an Arrow IPC stream, e.g. `RetrievalJob.collectAsArrow`'s
    * bytes or a file the oracle wrote. Optionally keeps only the rows
    * whose `filterCol` equals `filterVal`, and drops columns in `drop`. */
  def ofArrow(in: java.io.InputStream, drop: Set[String] = Set.empty,
      filter: Option[(String, Long)] = None): Digest = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(in, alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val names = root.getSchema.getFields.asScala.map(_.getName).toSeq
      val kept = names.filterNot(drop).sorted
      var n = 0L
      var sum = 0L
      while (reader.loadNextBatch()) {
        val vecs = kept.map(root.getVector)
        val fv = filter.map { case (c, v) => (root.getVector(c), v) }
        var i = 0
        while (i < root.getRowCount) {
          if (fv.forall { case (vec, v) => vec.getObject(i) == v }) {
            sum += row(vecs.map(_.getObject(i)))
            n += 1
          }
          i += 1
        }
      }
      Digest(n, sum, kept)
    } finally {
      reader.close()
      alloc.close()
    }
  }

  def ofArrowBytes(bytes: Array[Byte]): Digest =
    ofArrow(new java.io.ByteArrayInputStream(bytes))

  def ofArrowFile(path: String, drop: Set[String] = Set.empty,
      filter: Option[(String, Long)] = None): Digest = {
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(path))
    try ofArrow(in, drop, filter) finally in.close()
  }
}
