package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded inputs. The tables follow the shape of the engine's test data
  * (`events`, `documents`); the same seed and size always give the same
  * rows.
  */
object DataGen {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "big", "join", "sort", "hash", "group",
    "order", "line", "part", "customer", "filter", "slow", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  private val EventTypes = IndexedSeq("click", "view", "purchase", "signup", "error")
  private val Langs = IndexedSeq("en", "en", "zh", "es", "fr", "de")
  private val Start = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private val Month = 30L * 24 * 3600 * 1000000L

  /** Writes `df` as the single plain file `<dir>/<name>.parquet`, the
    * layout the engine's artifact cache keys on.
    */
  def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/_staging_$name"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part.toPath, Paths.get(dir, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(Paths.get(dir, s".$name.parquet.crc"))
    deleteTree(new File(staging))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Click-stream events: `users` series over one month, exponential
    * values (mean 50), strictly increasing timestamps.
    */
  def events(spark: SparkSession, seed: Long, rows: Int, users: Int): DataFrame = {
    import spark.implicits._
    val rng = new SplittableRandom(seed)
    val gap = Month / rows
    var t = Start
    val data = (0 until rows).map { i =>
      t += 1 + rng.nextLong(2 * gap)
      val v = math.rint(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100
      (i.toLong, t, rng.nextInt(users).toLong, EventTypes(rng.nextInt(5)), v,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    data.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** Documents of 10-100 vocabulary words; 5% are an earlier-or-later
    * document plus " dup" (near duplicates), 0.2% exact copies.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rng = new SplittableRandom(seed)
    val base = Array.fill(n)(
      Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" "))
    val text = base.clone()
    for (i <- 0 until n) {
      val r = rng.nextInt(1000)
      if (r < 52) {
        val j = rng.nextInt(n)
        if (j != i) text(i) = if (r < 50) base(j) + " dup" else base(j)
      }
    }
    (0 until n).map { i =>
      (i.toLong, text(i), Langs(rng.nextInt(Langs.size)), s"src${i % 20}",
        text(i).length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Sensor frame in the `ScaleSmoke` shape: `series` series at a
    * 1-minute cadence, smooth signal plus hash noise, 0.1% spikes of +500
    * and 0.1% nulls. Values sit on a 1/64 grid, so the chunked CUSUM scan
    * is exact and its mask must equal the sequential one bit for bit.
    * Series 0 also gets spikes at minutes 57 and 130 whatever the seed, so
    * a CUSUM over it always flags rows, the first run of them crossing an
    * hour boundary.
    */
  def sensors(spark: SparkSession, seed: Long, rows: Long, series: Long): DataFrame = {
    require(rows > 130 * series, "series 0 needs 131 minutes for its fixed spikes")
    val s = lit(seed)
    val pos = col("id") / lit(series)
    val noise = (abs(hash(col("id"), s)) % 1000) / lit(1000.0)
    val base = sin(pos / lit(50.0) + (col("id") % series)) * 10 + noise
    val fixed = col("id") === lit(57L * series) || col("id") === lit(130L * series)
    val spike = when(fixed || abs(hash(col("id"), s, lit(1))) % 1000 === 0, lit(500.0))
      .otherwise(lit(0.0))
    spark.range(rows).select(
      (col("id") % series).as("series_id"),
      timestamp_micros(lit(Start) + pos.cast("long") * 60000000L).as("ts"),
      when(!fixed && abs(hash(col("id"), s, lit(2))) % 1000 === 0, lit(null).cast("double"))
        .otherwise(floor((base + spike) * 64) / 64).as("value"))
  }
}
