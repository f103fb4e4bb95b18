package lakebench

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Everything a workload feeds the program is made
  * here, before timing starts; the same seed gives the same inputs. */
object Gen {

  /** What the generator planted in one hour of bronze, so outputs can be
    * checked against it. */
  final case class Bronze(
      lines: Long,
      goldRows: Long,    // distinct (city, fetched_at_utc) among parseable lines
      quarantined: Long, // unparseable + type-malformed lines
      nullTemp: Long) {  // parseable lines whose temp_c is null
    def +(o: Bronze): Bronze =
      Bronze(lines + o.lines, goldRows + o.goldRows, quarantined + o.quarantined, nullTemp + o.nullTemp)
  }

  // The bronze's shape: fetches per city per hour, gzip files per hour, and
  // the shares of at-least-once duplicates, non-numeric temperatures,
  // cut-short lines and null temperatures.
  private val FetchesPerHour = 12
  private val FilesPerHour = 2
  private val DupShare = 0.05
  private val BadTypeShare = 0.01
  private val UnparseableShare = 0.005
  private val NullTempShare = 0.01

  private val Start = java.time.LocalDateTime.of(2024, 3, 4, 0, 0)
  private val Iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val Mains = Array("Clear" -> "clear sky", "Clouds" -> "broken clouds",
    "Rain" -> "light rain", "Mist" -> "mist", "Snow" -> "light snow")

  def dtHour(h: Int): (String, String) = {
    val t = Start.plusHours(h.toLong)
    (t.toLocalDate.toString, f"${t.getHour}%02d")
  }

  /** Hour `h` of Firehose-shaped bronze: `dt=YYYY-MM-DD/hour=HH/part-N.json.gz`,
    * one NDJSON line per fetch. At-least-once delivery repeats some lines
    * inside their hour; some lines carry a non-numeric temperature, some are
    * cut short, some report no temperature at all. */
  def bronzeHour(dir: String, seed: Long, cities: Int, h: Int): Bronze = {
    val rnd = new Random(seed)
    var gold, quarantined, nullTemp = 0L
    val (dt, hour) = dtHour(h)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (c <- 0 until cities; f <- 0 until FetchesPerHour) {
      val ts = Start.plusHours(h.toLong).plusSeconds(f * (3600L / FetchesPerHour) + c % 60)
      val (main, desc) = Mains(rnd.nextInt(Mains.length))
      val temp = (rnd.nextInt(700) - 250) / 10.0
      val u = rnd.nextDouble()
      val bad = u < UnparseableShare + BadTypeShare
      val tempJson =
        if (bad) "\"n/a\""
        else if (u < UnparseableShare + BadTypeShare + NullTempShare) "null"
        else temp.toString
      val line =
        s"""{"app":"rxlan","stage":"prod","source":"openweather","fetched_at_utc":"${Iso.format(ts)}",""" +
        f""""city":"city_$c%04d","country":"C${c % 40}%02d","lat":${(c % 180) - 90 + 0.5},"lon":${(c * 7 % 360) - 180 + 0.25},""" +
        s""""temp_c":$tempJson,"feels_like_c":${temp - 1.5},"humidity":${rnd.nextInt(101)},""" +
        s""""pressure":${980 + rnd.nextInt(60)},"wind_speed":${rnd.nextInt(200) / 10.0},""" +
        s""""clouds_pct":${rnd.nextInt(101)},"weather_main":"$main","weather_description":"$desc"}"""
      if (bad) {
        out += (if (u < UnparseableShare) line.take(40 + rnd.nextInt(40)) else line)
        quarantined += 1
      } else {
        out += line; gold += 1
        if (tempJson == "null") nullTemp += 1
        if (rnd.nextDouble() < DupShare) out += line
      }
    }
    val shuffled = rnd.shuffle(out.toVector)
    val per = (shuffled.size + FilesPerHour - 1) / FilesPerHour
    shuffled.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      writeGz(new File(s"$dir/dt=$dt/hour=$hour/part-$i.json.gz"), chunk)
    }
    Bronze(shuffled.size, gold, quarantined, nullTemp)
  }

  private def writeGz(f: File, lines: Seq[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new OutputStreamWriter(new GZIPOutputStream(new FileOutputStream(f)), StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** The `documents` table's shape, fitted to the sf0.1 table the registry
    * runs on (5,000 rows): 10 to 100 tokens per document, uniform, each
    * drawn uniformly from the same 30 words; a twentieth of the documents
    * are another document's text with " dup" appended; `lang` is "en" for
    * two in five documents and one of four others for the rest; `source` is
    * `src` + doc_id mod 10; `n_chars` is the text's length. */
  val Words: Array[String] = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window").split(" ")
  private val OtherLangs = Array("de", "es", "fr", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  def documents(n: Int, seed: Long): Vector[Doc] = {
    val rnd = new Random(seed)
    val texts = Array.fill(n)(Array.fill(10 + rnd.nextInt(91))(Words(rnd.nextInt(Words.length))).mkString(" "))
    (0 until n / 20).foreach(_ => texts(rnd.nextInt(n)) = texts(rnd.nextInt(n)) + " dup")
    texts.indices.map { i =>
      val lang = if (rnd.nextDouble() < 0.4) "en" else OtherLangs(rnd.nextInt(OtherLangs.length))
      Doc(i.toLong, texts(i), lang, s"src${i % 10}")
    }.toVector
  }

  /** The registry tables the timed entries read (`documents`, `embeddings`,
    * `events` and `lineitem`) as parquet under `dir`, in the layout
    * `graft.sources.Tables` loads. The embeddings stay at 200 rows at every
    * size: q_pq_topk's oracle SQL grows faster than linearly in them (12 s
    * in DuckDB at 250 rows). */
  def registryTables(spark: SparkSession, dir: String, seed: Long, docs: Int, events: Int, lineitems: Int): Unit = {
    import spark.implicits._
    def save(df: DataFrame, name: String): Unit = df.coalesce(1).write.parquet(s"$dir/$name.parquet")

    save(documents(docs, seed).map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    val rnd = new Random(seed + 1)
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    save((0 until 200).map { i =>
      val label = rnd.nextInt(10)
      (i.toLong, centers(label).map(c => (c + 0.3 * rnd.nextGaussian()).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label"), "embeddings")

    val types = Array("click", "view", "purchase", "signup", "error")
    var t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    save((0 until events).map { i =>
      t += 1000L * (1 + rnd.nextInt(30))
      (i.toLong, new java.sql.Timestamp(t), rnd.nextInt(events / 10 + 1).toLong,
        types(rnd.nextInt(types.length)), rnd.nextInt(50000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    val ship0 = java.sql.Timestamp.valueOf("1992-01-02 00:00:00").getTime
    save((0 until lineitems).map { i =>
      val qty = (1 + rnd.nextInt(50)).toDouble
      (i / 4L + 1, rnd.nextInt(2000).toLong + 1, rnd.nextInt(100).toLong + 1, i % 4 + 1, qty,
        qty * (900 + rnd.nextInt(1200)), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        "RAN".substring(rnd.nextInt(3)).take(1), "OF".substring(rnd.nextInt(2)).take(1),
        new java.sql.Timestamp(ship0 + rnd.nextInt(2526).toLong * 86400000L))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"), "lineitem")
  }
}
