package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bloom filter over digest strings, used as a VERSION-MATCHED SIDECAR on a
  * [[Snapshots]] table (`<table>/_bloom/v-NNNNN`) so a streaming ingest can
  * answer "which of this batch's digests might already be stored?" without
  * re-reading the stored digest column every batch.
  *
  * Why this exists (SURVEY §9.4): the chunk-store gate's existence probe
  * reads the probed cbucket partitions — O(stored corpus) per batch once
  * batches hash into every bucket, measured growing 6.6 s → 27.3 s per
  * batch across 50 batches at sf1. With the sidecar, a batch collects its
  * own digests (bounded by batch size), tests them against the bloom, and
  * reads ONLY the buckets of digests that might exist — on novel-heavy
  * ingest (the common corpus-building case) that is usually nothing.
  *
  * Correctness contract — FALSE NEGATIVES ARE FORBIDDEN, false positives
  * only cost an extra bucket read:
  *   - a sidecar is trusted ONLY when its version equals the table's
  *     CURRENT latest version, and the bloom for version v contains every
  *     digest live at v (base case: [[build]] scans the full table;
  *     inductive case: the committer adds exactly its novel digests and
  *     stamps the new version);
  *   - any other writer (erasure rewrite, compaction, a crash between
  *     commit and sidecar write) bumps the version WITHOUT a sidecar → the
  *     next probe finds no matching sidecar, falls back to the full
  *     bucket read, and REBUILDS distributedly — self-healing, never wrong.
  *
  * Hashing: double hashing h1 + i·h2 from two MurmurHash3 string seeds —
  * deterministic across JVMs (no Random, no object identity). Size: a
  * rebuild allots 20-40 bits per stored digest with 6 hashes
  * ([[sizedBits]] of twice the count), and the gate regrows the sidecar
  * once the store has roughly doubled — a rebuild at 1,700 digests
  * writes 8 KiB.
  *
  * Retention: [[write]] of version v deletes every published sidecar
  * older than v - 1, so `_bloom/` holds at most the latest two (v - 1
  * stays for [[graft.streaming.StreamingOps.chunkStoreMaintenanceRestamp]],
  * which copies it to a compacted v). Only the latest is ever trusted.
  */
final class DigestBloom(val bits: Array[Long], val k: Int) {
  private val m: Long = bits.length.toLong * 64L

  private def set(pos: Long): Unit = {
    bits((pos >>> 6).toInt) |= (1L << (pos & 63).toInt)
  }
  private def get(pos: Long): Boolean =
    (bits((pos >>> 6).toInt) & (1L << (pos & 63).toInt)) != 0L

  private def positions(s: String): Iterator[Long] = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b) | 1
    (0 until k).iterator.map { i =>
      val h = h1.toLong + i.toLong * h2.toLong
      ((h % m) + m) % m
    }
  }

  def add(s: String): Unit = positions(s).foreach(set)
  def contains(s: String): Boolean = positions(s).forall(get)

  /** Fraction of set bits — the saturation gauge. At ~50% (the classic
    * optimum for k = m/n·ln2 sizing) the filter is AT capacity; beyond it
    * the false-positive rate climbs toward 1 and the probe quietly stops
    * pruning (VERDICT r16 item 4). Computed on demand: one bitCount pass
    * over the array (~1M longs worst case) is noise next to any probe. */
  def fillRatio: Double = {
    var setBits = 0L
    var i = 0
    while (i < bits.length) { setBits += java.lang.Long.bitCount(bits(i)); i += 1 }
    setBits.toDouble / m
  }
  def or(other: DigestBloom): DigestBloom = {
    require(other.bits.length == bits.length && other.k == k,
      "bloom shape mismatch")
    var i = 0
    while (i < bits.length) { bits(i) |= other.bits(i); i += 1 }
    this
  }
  def copy(): DigestBloom = new DigestBloom(bits.clone(), k)
}

object DigestBloom {
  val defaultK: Int = 6
  private val magic: Int = 0x47424c4d // "GBLM"

  /** Bits for ~10 bits per digest (fp ≈ 0.8% at k=6), rounded up to a
    * power of two and clamped to [64, 2^29] (one word; 64 MiB — a bloom
    * bigger than that stops being a cheap sidecar). The committer passes
    * TWICE the store's actual digest count at rebuild time, so the sidecar
    * scales with the corpus and is carried forward until the store has
    * roughly doubled (VERDICT r16 item 4). */
  def sizedBits(n: Long): Int = {
    val target = 10L * math.max(1L, n)
    val pow = java.lang.Long.highestOneBit(target)
    val rounded = if (pow == target) target else pow << 1
    math.min(1L << 29, math.max(64L, rounded)).toInt
  }

  def empty(mBits: Int, k: Int = defaultK): DigestBloom = {
    require(mBits % 64 == 0 && mBits > 0, "mBits must be a positive multiple of 64")
    new DigestBloom(new Array[Long](mBits / 64), k)
  }

  /** Distributed build over a digest column: one partial bloom per
    * partition, OR-reduced — driver memory is one bloom of `mBits` bits
    * whatever the number of rows scanned. */
  def build(
      digests: DataFrame,
      col: String,
      mBits: Int,
      k: Int = defaultK): DigestBloom = {
    val idx = digests.schema.fieldIndex(col)
    val partial = digests.queryExecution.toRdd // InternalRow scan, no row copies kept
      .mapPartitions { it =>
        val b = empty(mBits, k)
        it.foreach(r => if (!r.isNullAt(idx)) b.add(r.getUTF8String(idx).toString))
        Iterator.single(b.bits)
      }
    if (partial.getNumPartitions == 0) empty(mBits, k)
    else new DigestBloom(
      partial.treeReduce { (a, b) =>
        var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
      }, k)
  }

  private def dir(table: String) = new Path(s"$table/_bloom")
  private def path(table: String, v: Long) =
    new Path(dir(table), f"v-$v%05d")
  private val Published = "v-(\\d+)".r
  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The sidecar for EXACTLY version `v`, or None (absent, unreadable, or
    * wrong shape — callers must fall back to the full read). */
  def read(spark: SparkSession, table: String, v: Long): Option[DigestBloom] = {
    val f = fs(spark, table)
    val p = path(table, v)
    try {
      if (!f.exists(p)) None
      else {
        val in = new java.io.DataInputStream(f.open(p))
        try {
          if (in.readInt() != magic) None
          else {
            val k = in.readInt()
            val n = in.readInt()
            // a truncated/corrupt payload can yield garbage k or n — a
            // negative or absurd n would throw past an IOException-only
            // catch (NegativeArraySizeException / OOM) and crash the
            // streaming batch instead of falling back to the full probe
            if (k < 1 || k > 64 || n < 1 || n > (1 << 26)) None // ≤ 512 MiB
            else {
              val bits = new Array[Long](n)
              var i = 0
              while (i < n) { bits(i) = in.readLong(); i += 1 }
              Some(new DigestBloom(bits, k))
            }
          }
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Publish the sidecar for version `v` (atomic rename, same discipline as
    * manifest publish — readers never see a torn file), then delete every
    * published sidecar older than `v - 1` with its `.crc`. In-flight
    * `.tmp` files are never touched. Best-effort: a failed write just
    * means the next probe rebuilds, and a sidecar deleted under a reader
    * reads as None, the same fallback. */
  def write(spark: SparkSession, table: String, v: Long, bloom: DigestBloom): Unit = {
    val f = fs(spark, table)
    val tmp = new Path(dir(table), f".v-$v%05d.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      val out = new java.io.DataOutputStream(f.create(tmp, true))
      try {
        out.writeInt(magic)
        out.writeInt(bloom.k)
        out.writeInt(bloom.bits.length)
        bloom.bits.foreach(out.writeLong)
      } finally out.close()
      // rename-no-overwrite filesystems return false with the destination
      // already present (e.g. a concurrent writer won the publish): the
      // sidecar there is for the SAME version so losing the race is fine,
      // but the tmp must not leak into _bloom/
      if (!f.rename(tmp, path(table, v))) f.delete(tmp, false)
      f.listStatus(dir(table)).map(_.getPath).foreach { p =>
        p.getName match {
          case Published(old) if old.toLong < v - 1 => f.delete(p, false)
          case _ =>
        }
      }
    } catch { case scala.util.control.NonFatal(_) =>
      try f.delete(tmp, false) catch { case _: java.io.IOException => () } }
  }
}
