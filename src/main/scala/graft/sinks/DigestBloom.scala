package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom filter over digest strings, used as a VERSION-MATCHED SIDECAR on a
  * [[Snapshots]] table (`<table>/_bloom/v-NNNNN`) so a streaming ingest can
  * answer "which of this batch's digests might already be stored?" without
  * re-reading the stored digest column every batch. The filter itself is
  * Spark's `org.apache.spark.util.sketch.BloomFilter`; this object sizes,
  * builds, publishes and reads it.
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
  * Retention: [[write]] of version v deletes every published sidecar
  * older than v - 1, so `_bloom/` holds at most the latest two (v - 1
  * stays for [[graft.streaming.StreamingOps.chunkStoreMaintenanceRestamp]],
  * which copies it to a compacted v). Only the latest is ever trusted.
  */
object DigestBloom {

  /** Bits for ~10 bits per digest, rounded up to a power of two and
    * clamped to [64, 2^29] (one word; 64 MiB — a bloom bigger than that
    * stops being a cheap sidecar). The committer passes TWICE the store's
    * actual digest count at rebuild time, so the sidecar scales with the
    * corpus and is carried forward until the store has roughly doubled
    * (VERDICT r16 item 4). */
  def sizedBits(n: Long): Int = {
    val target = 10L * math.max(1L, n)
    val pow = java.lang.Long.highestOneBit(target)
    val rounded = if (pow == target) target else pow << 1
    math.min(1L << 29, math.max(64L, rounded)).toInt
  }

  /** An empty sidecar of `bits` bits shaped for 10 bits per digest, so
    * Spark picks 7 hash functions. Every sidecar starts here: partials of
    * one size merge. */
  def empty(bits: Int): BloomFilter = BloomFilter.create(bits / 10, bits)

  /** Fraction of set bits — the saturation gauge. Past ~50% the false-
    * positive rate climbs toward 1 and the probe quietly stops pruning
    * (VERDICT r16 item 4). */
  def fillRatio(b: BloomFilter): Double = b.cardinality.toDouble / b.bitSize

  /** Distributed build over a digest column: one partial bloom per
    * partition, merged by a tree reduce — driver memory is one bloom of
    * `bits` bits whatever the number of rows scanned. */
  def build(digests: DataFrame, col: String, bits: Int): BloomFilter = {
    val idx = digests.schema.fieldIndex(col)
    val partial = digests.queryExecution.toRdd // InternalRow scan, no row copies kept
      .mapPartitions { it =>
        val b = empty(bits)
        it.foreach(r => if (!r.isNullAt(idx)) b.putBinary(r.getUTF8String(idx).getBytes))
        Iterator.single(b)
      }
    if (partial.getNumPartitions == 0) empty(bits)
    else partial.treeReduce(_ mergeInPlace _)
  }

  private def dir(table: String) = new Path(s"$table/_bloom")
  private def path(table: String, v: Long) =
    new Path(dir(table), f"v-$v%05d")
  private val Published = "v-(\\d+)".r
  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // BloomFilter.writeTo's V2 layout: version = 2, k, seed, word count,
  // then the words
  private val headerBytes = 16
  private val maxBytes = headerBytes + (1L << 29) / 8

  /** The sidecar for EXACTLY version `v`, or None (absent, unreadable, or
    * wrong shape — callers must fall back to the full read). The header is
    * checked against the file's length BEFORE `BloomFilter.readFrom`, which
    * allocates the word array the header names: a corrupt word count would
    * throw past NonFatal (OOM) and a corrupt k would make every lookup loop
    * that many times. */
  def read(spark: SparkSession, table: String, v: Long): Option[BloomFilter] = {
    val f = fs(spark, table)
    val p = path(table, v)
    try {
      val len = f.getFileStatus(p).getLen
      if (len < headerBytes || len > maxBytes) None
      else {
        val bytes = new Array[Byte](len.toInt)
        val in = f.open(p)
        try in.readFully(bytes) finally in.close()
        val h = java.nio.ByteBuffer.wrap(bytes)
        val (version, k, words) = (h.getInt(0), h.getInt(4), h.getInt(12))
        if (version != 2 || k < 1 || k > 64 || headerBytes + 8L * words != len) None
        else Some(BloomFilter.readFrom(bytes))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Publish the sidecar for version `v` (atomic rename, same discipline as
    * manifest publish — readers never see a torn file), then delete every
    * published sidecar older than `v - 1` with its `.crc`. In-flight
    * `.tmp` files are never touched. Best-effort: a failed write just
    * means the next probe rebuilds, and a sidecar deleted under a reader
    * reads as None, the same fallback. */
  def write(spark: SparkSession, table: String, v: Long, bloom: BloomFilter): Unit = {
    val f = fs(spark, table)
    val tmp = new Path(dir(table), f".v-$v%05d.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      val out = f.create(tmp, true)
      try bloom.writeTo(out) finally out.close()
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
