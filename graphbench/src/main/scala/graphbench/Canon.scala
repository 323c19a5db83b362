package graphbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Order-independent table digests.
  *
  * Every row renders to one canonical string (typed value tags, nested
  * structs and arrays in field order) and hashes to 64 bits; a table's
  * digest is its row count and the wrapping sum of its row hashes. The
  * expected side renders the generator's own values (`Ts` for
  * timestamps, `Json.Obj`/`Json.Arr` for nested values), the actual side
  * renders the Spark rows read back from the sink, so the two meet only
  * in this canonical form. */
object Canon {
  /** An expected timestamp, as epoch microseconds. */
  final case class Ts(micros: Long)

  final case class Digest(rows: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
    def -(o: Digest): Digest = Digest(rows - o.rows, sum - o.sum)
  }
  val empty: Digest = Digest(0L, 0L)

  def isoMicros(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def write(b: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => b.append('\u0002')
    case s: String => b.append('s').append(s)
    case x: Boolean => b.append(if (x) 'T' else 'F')
    case x: Long => b.append('l').append(x)
    case x: Int => b.append('l').append(x)
    case Ts(m) => b.append('t').append(m)
    case t: java.sql.Timestamp =>
      b.append('t').append(Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000)
    case t: java.time.Instant =>
      b.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case r: Row => fields(b, '{', r.toSeq, '}')
    case Json.Obj(fs) => fields(b, '{', fs.map(_._2), '}')
    case Json.Arr(xs) => fields(b, '[', xs, ']')
    case xs: scala.collection.Seq[_] => fields(b, '[', xs.toSeq, ']')
    case other => b.append('?').append(other.toString)
  }

  private def fields(b: java.lang.StringBuilder, open: Char, xs: Seq[Any],
      close: Char): Unit = {
    b.append(open)
    xs.foreach { x => write(b, x); b.append('\u0001') }
    b.append(close)
  }

  private def render(values: Seq[Any]): String = {
    val b = new java.lang.StringBuilder(256)
    fields(b, '(', values, ')')
    b.toString
  }

  def hash(values: Seq[Any]): Long = {
    val bytes = render(values).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hi = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x3c6ef372)
    val lo = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5be0cd19)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def of(rows: Iterable[Seq[Any]]): Digest =
    rows.foldLeft(empty)((d, r) => d + Digest(1L, hash(r)))

  /** Digest of `df`'s columns `cols` (in that order), computed on the
    * executors: only one (count, sum) pair per partition reaches the
    * driver. */
  def ofFrame(df: DataFrame, cols: Seq[String]): Digest =
    df.select(cols.map(c => col(s"`$c`")): _*).rdd
      .mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += hash(r.toSeq) }
        Iterator(Digest(n, s))
      }
      .collect().foldLeft(empty)(_ + _)
}
