package graft.sinks

import graft.SparkSpec

/** The sidecar that bounds the chunk-store gate's per-batch probe: no
  * false negatives ever, deterministic across JVMs, distributed build ≡
  * driver build, version-matched read discipline. */
class DigestBloomSpec extends SparkSpec {
  import spark.implicits._

  private def digests(n: Int): Seq[String] =
    (0 until n).map(i => s"digest-$i-${i * 2654435761L}")

  test("no false negatives; false positives stay low at design load") {
    val b = DigestBloom.empty(1 << 16) // small filter, 4k inserts
    val in = digests(4000)
    in.foreach(b.putString)
    assert(in.forall(b.mightContainString), "false negative — forbidden")
    val out = (0 until 4000).map(i => s"absent-$i")
    val fp = out.count(b.mightContainString)
    assert(fp < 200, s"fp rate ${fp / 4000.0} too high for m/n=16")
  }

  test("distributed build equals driver-side adds") {
    val in = digests(5000)
    val df = in.toDF("chunk_hash").repartition(8)
    val built = DigestBloom.build(df, "chunk_hash", 1 << 16)
    val ref = DigestBloom.empty(1 << 16)
    in.foreach(ref.putString)
    assert(built == ref, "distributed merge drifted from driver build")
    // zero-partition edge: empty frame builds an empty (all-miss) bloom
    val empty = DigestBloom.build(
      spark.emptyDataFrame.select(org.apache.spark.sql.functions.lit("x").as("chunk_hash")).limit(0),
      "chunk_hash", 1 << 10)
    assert(!empty.mightContainString("anything"))
  }

  test("fillRatio gauges saturation; sizedBits scales ~10 bits/digest within clamps") {
    val b = DigestBloom.empty(1 << 10) // 1024 bits
    assert(DigestBloom.fillRatio(b) == 0.0)
    digests(500).foreach(b.putString) // ~3500 set positions into 1024 bits
    assert(DigestBloom.fillRatio(b) > 0.5, f"expected saturation, fill ${DigestBloom.fillRatio(b)}%.2f")
    val half = DigestBloom.empty(1 << 10)
    digests(25).foreach(half.putString) // ~175/1024 → well under half
    assert(DigestBloom.fillRatio(half) < 0.2)
    // ~10 bits per digest, rounded up to a power of two
    assert(DigestBloom.sizedBits(1000) == 16384)
    assert(DigestBloom.sizedBits(51) == 512)
    // floor: one 64-bit word
    assert(DigestBloom.sizedBits(5) == 64)
    // ceiling: 2^29 bits — past that a sidecar stops being cheap
    assert(DigestBloom.sizedBits(1L << 40) == (1 << 29))
    assert(DigestBloom.sizedBits(1 << 10) == (1 << 14))
  }

  test("sidecar write/read round-trips; reads are version-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    val b = DigestBloom.empty(1 << 12)
    digests(100).foreach(b.putString)
    DigestBloom.write(spark, dir, 7L, b)
    val back = DigestBloom.read(spark, dir, 7L)
    assert(back.contains(b))
    // a different version has no sidecar — the fallback signal
    assert(DigestBloom.read(spark, dir, 8L).isEmpty)
  }

  test("write keeps only the latest two published sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-prune").toString
    val b = DigestBloom.empty(1 << 12)
    digests(20).foreach(b.putString)
    for (v <- 1L to 5L) DigestBloom.write(spark, dir, v, b)
    val left = new java.io.File(s"$dir/_bloom").list().sorted.toSeq
    assert(left == Seq(".v-00004.crc", ".v-00005.crc", "v-00004", "v-00005"),
      s"_bloom/ holds ${left.mkString(",")}")
    for (v <- 1L to 3L) assert(DigestBloom.read(spark, dir, v).isEmpty, s"v$v still readable")
    for (v <- 4L to 5L)
      assert(DigestBloom.read(spark, dir, v).contains(b), s"v$v lost")
  }

  test("corrupt or truncated sidecars read as None, never throw") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-corrupt").toString
    val b = DigestBloom.empty(1 << 12)
    digests(50).foreach(b.putString)
    DigestBloom.write(spark, dir, 1L, b)
    val p = java.nio.file.Paths.get(s"$dir/_bloom/v-00001")
    val good = java.nio.file.Files.readAllBytes(p)
    // without its checksum the file is read as written, so each refusal
    // below is the header check's, not the checksum's
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_bloom/.v-00001.crc"))
    def header(version: Int, k: Int, words: Int): java.nio.ByteBuffer =
      java.nio.ByteBuffer.allocate(16).putInt(version).putInt(k).putInt(0).putInt(words)

    // truncated mid-header: the header cannot be read at all
    java.nio.file.Files.write(p, good.take(6))
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "truncated header")
    // valid version but absurd word count (would NegativeArraySize/OOM
    // BloomFilter.readFrom, which allocates before it reads)
    java.nio.file.Files.write(p, header(2, 7, -7).array())
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "negative word count")
    java.nio.file.Files.write(p, header(2, 7, Int.MaxValue).array())
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "absurd word count")
    // k outside 1..64, with words that match the length
    val words = (good.length - 16) / 8
    java.nio.file.Files.write(p, header(2, 0, words).array() ++ good.drop(16))
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "k=0")
    java.nio.file.Files.write(p, header(2, 1 << 20, words).array() ++ good.drop(16))
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "oversized k")
    // a sidecar in the retired "GBLM" layout (magic, k, words, then the
    // words) is refused; the gate then probes in full and rebuilds
    val gblm = java.nio.ByteBuffer.allocate(12 + 8 * words)
      .putInt(0x47424c4d).putInt(6).putInt(words).array()
    java.nio.file.Files.write(p, gblm)
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "old GBLM sidecar")

    // restore the intact payload: reads recover
    java.nio.file.Files.write(p, good)
    assert(DigestBloom.read(spark, dir, 1L).contains(b))

    // publish race: local FS rename won't overwrite an existing sidecar —
    // the loser must clean its tmp out of _bloom/, not leak it
    DigestBloom.write(spark, dir, 1L, b)
    val leaked = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/_bloom"))
      .toArray.map(_.toString).filter(_.endsWith(".tmp"))
    assert(leaked.isEmpty, s"tmp files leaked: ${leaked.mkString(",")}")
    assert(DigestBloom.read(spark, dir, 1L).isDefined)
  }
}
