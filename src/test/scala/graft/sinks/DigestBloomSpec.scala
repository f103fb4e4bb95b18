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
    val b = DigestBloom.empty(1 << 16, 6) // small filter, 4k inserts
    val in = digests(4000)
    in.foreach(b.add)
    assert(in.forall(b.contains), "false negative — forbidden")
    val out = (0 until 4000).map(i => s"absent-$i")
    val fp = out.count(b.contains)
    assert(fp < 200, s"fp rate ${fp / 4000.0} too high for m/n=16")
  }

  test("or merges; copy isolates") {
    val a = DigestBloom.empty(1 << 10, 4)
    val b = DigestBloom.empty(1 << 10, 4)
    a.add("only-a"); b.add("only-b")
    val c = a.copy().or(b)
    assert(c.contains("only-a") && c.contains("only-b"))
    assert(!a.contains("only-b"), "or mutated through copy")
  }

  test("distributed build equals driver-side adds") {
    val in = digests(5000)
    val df = in.toDF("chunk_hash").repartition(8)
    val built = DigestBloom.build(df, "chunk_hash", 1 << 16, 6)
    val ref = DigestBloom.empty(1 << 16, 6)
    in.foreach(ref.add)
    assert(built.bits.sameElements(ref.bits), "distributed OR drifted from driver build")
    // zero-partition edge: empty frame builds an empty (all-miss) bloom
    val empty = DigestBloom.build(
      spark.emptyDataFrame.select(org.apache.spark.sql.functions.lit("x").as("chunk_hash")).limit(0),
      "chunk_hash", 1 << 10, 4)
    assert(!empty.contains("anything"))
  }

  test("fillRatio gauges saturation; sizedBits scales ~10 bits/digest within clamps") {
    val b = DigestBloom.empty(1 << 10, 4) // 1024 bits
    assert(b.fillRatio == 0.0)
    digests(500).foreach(b.add) // ~2000 set positions into 1024 bits
    assert(b.fillRatio > 0.5, f"expected saturation, fill ${b.fillRatio}%.2f")
    val half = DigestBloom.empty(1 << 10, 4)
    digests(40).foreach(half.add) // ~160/1024 → well under half
    assert(half.fillRatio < 0.2)
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
    val b = DigestBloom.empty(1 << 12, 5)
    digests(100).foreach(b.add)
    DigestBloom.write(spark, dir, 7L, b)
    val back = DigestBloom.read(spark, dir, 7L)
    assert(back.isDefined && back.get.k == 5 && back.get.bits.sameElements(b.bits))
    // a different version has no sidecar — the fallback signal
    assert(DigestBloom.read(spark, dir, 8L).isEmpty)
  }

  test("write keeps only the latest two published sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-prune").toString
    val b = DigestBloom.empty(1 << 12, 5)
    digests(20).foreach(b.add)
    for (v <- 1L to 5L) DigestBloom.write(spark, dir, v, b)
    val left = new java.io.File(s"$dir/_bloom").list().sorted.toSeq
    assert(left == Seq(".v-00004.crc", ".v-00005.crc", "v-00004", "v-00005"),
      s"_bloom/ holds ${left.mkString(",")}")
    for (v <- 1L to 3L) assert(DigestBloom.read(spark, dir, v).isEmpty, s"v$v still readable")
    for (v <- 4L to 5L)
      assert(DigestBloom.read(spark, dir, v).exists(_.bits.sameElements(b.bits)), s"v$v lost")
  }

  test("corrupt or truncated sidecars read as None, never throw") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-corrupt").toString
    val b = DigestBloom.empty(1 << 12, 5)
    digests(50).foreach(b.add)
    DigestBloom.write(spark, dir, 1L, b)
    val p = java.nio.file.Paths.get(s"$dir/_bloom/v-00001")
    val good = java.nio.file.Files.readAllBytes(p)

    // truncated mid-header: readInt on k/n sees garbage or EOF
    java.nio.file.Files.write(p, good.take(6))
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "truncated header")
    // valid magic but absurd n (would NegativeArraySize/OOM a naive reader)
    val bogus = java.nio.ByteBuffer.allocate(12)
      .putInt(java.nio.ByteBuffer.wrap(good).getInt).putInt(5).putInt(-7).array()
    java.nio.file.Files.write(p, bogus)
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "negative word count")
    val huge = java.nio.ByteBuffer.allocate(12)
      .putInt(java.nio.ByteBuffer.wrap(good).getInt).putInt(5)
      .putInt(Int.MaxValue).array()
    java.nio.file.Files.write(p, huge)
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "absurd word count")
    // k outside 1..64
    val badK = java.nio.ByteBuffer.allocate(12)
      .putInt(java.nio.ByteBuffer.wrap(good).getInt).putInt(0).putInt(64).array()
    java.nio.file.Files.write(p, badK)
    assert(DigestBloom.read(spark, dir, 1L).isEmpty, "k=0")

    // restore the intact payload: reads recover
    java.nio.file.Files.write(p, good)
    assert(DigestBloom.read(spark, dir, 1L).isDefined)

    // publish race: local FS rename won't overwrite an existing sidecar —
    // the loser must clean its tmp out of _bloom/, not leak it
    DigestBloom.write(spark, dir, 1L, b)
    val leaked = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/_bloom"))
      .toArray.map(_.toString).filter(_.endsWith(".tmp"))
    assert(leaked.isEmpty, s"tmp files leaked: ${leaked.mkString(",")}")
    assert(DigestBloom.read(spark, dir, 1L).isDefined)
  }
}
