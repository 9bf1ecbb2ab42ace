package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 6 (SURVEY §2.27):
  *
  *  - `scan_binary_files`: whole-file binary ingestion through Spark's
  *    `binaryFile` source — the media-lake scan path (one row per file:
  *    path + content) feeding the real P6 decode.
  *  - `agg_cms_estimate`: Count–Min sketch frequency estimates vs exact
  *    counts — the mergeable bounded-memory sketch beside HLL/bitmap,
  *    spelled with seeded md5 hash rows so both engines build the
  *    identical counter matrix.
  *  - `ts_hampel_outliers`: Hampel-style rolling-median outlier filter
  *    over the daily series (robust to the very spikes it hunts, unlike
  *    the mean/z-score detector).
  */
object QRound9g extends QueryPack {

  // ---- scan_binary_files ----

  private val binN = 100

  /** Whole-file binary ingestion: stage one .ppm file per doc_id < `binN`
    * (the `staged` fixture discipline — written once per (sfDir, fmt)),
    * scan with `format("binaryFile")` (one row per file: path, length,
    * content bytes), recover the id from the file NAME, and run the real
    * P6 decode over the content. The oracle recomputes the identical
    * statistics from the synthesis formula, so a truncated read, path
    * mixup or content corruption anywhere in the write→scan→decode chain
    * breaks the hash.
    *
    * Scale shape: binaryFile is a file-parallel scan (one task per file
    * group); the decode is the same partition-batched map as the mm
    * family; nothing but the 500-byte rollup shuffles. */
  private def scanBinaryFiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = QRound3.staged(s, d, "binppm") { dir =>
      (0L until binN).foreach { id =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"$id%05d.ppm"),
          Multimodal.synthPpm(id))
      }
    }
    val media = s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.ppm$", 1).cast(LongType)
          .as("media_id"),
        col("length"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .map { case (id, len, bytes) =>
        Multimodal.MediaRow(id, bytes, "ppm") -> len
      }
    val decoded = media.mapPartitions(_.map { case (r, len) =>
      val f = Multimodal.decode(r)
      (f.media_id, len, f.width, f.height, f.brightness)
    }).toDF("media_id", "n_bytes", "width", "height", "b")
    decoded.select(col("media_id"), col("n_bytes"), col("width"),
      col("height"), trunc4(col("b")).as("brightness"))
      .orderBy("media_id")
  }

  /** Oracle replays the synthesis formula, including the exact on-disk
    * byte length: header "P6\n# graft synthetic <id>\n<w> <h>\n255\n"
    * + 3wh pixel bytes. */
  private val oScanBinaryFiles =
    s"""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS width,
       |             CAST(3 + doc_id % 4 AS INT) AS height FROM documents
       |           WHERE doc_id < $binN),
       |hdr AS (SELECT doc_id, width, height,
       |    length('P6' || chr(10) || '# graft synthetic ' || doc_id || chr(10)
       |      || width || ' ' || height || chr(10) || '255' || chr(10))
       |    AS hdr_len FROM d),
       |px AS (SELECT doc_id, width, height,
       |         unnest(generate_series(0, width*height*3 - 1)) AS i FROM d)
       |SELECT px.doc_id AS media_id,
       |  CAST(hdr.hdr_len + px.width*px.height*3 AS BIGINT) AS n_bytes,
       |  px.width, px.height,
       |  ${oTrunc4("CAST(SUM((px.doc_id*31 + i*7) % 256) AS DOUBLE)/(px.width*px.height*3)/255")} AS brightness
       |FROM px JOIN hdr ON hdr.doc_id = px.doc_id
       |GROUP BY px.doc_id, hdr.hdr_len, px.width, px.height
       |ORDER BY media_id""".stripMargin

  // ---- agg_cms_estimate ----

  private val cmsD = 4
  private val cmsW = 64

  /** Count–Min sketch (Cormode & Muthukrishnan 2005) frequency estimates:
    * d=4 hash rows × w=64 counters, h_i(x) = first 8 md5 hex digits of
    * "i|x" mod w — the seeded-hash discipline, so the counter matrix is
    * identical across engines, partitionings and reruns. Estimate =
    * min over rows of the addressed counter; emitted beside the exact
    * count and the (always ≥ 0) overestimate. The sketch is the
    * mergeable bounded-memory cardinality companion to the HLL/bitmap
    * keys: the counter matrix is 256 cells of model state no matter the
    * corpus size, and map-side partial aggregation builds it with one
    * uniform-key shuffle. */
  private[graft] def cmsEstimate(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val rows = (0 until cmsD).map { i =>
      events.select(lit(i).as("row"),
        (md5Prefix(concat(lit(s"$i|"), col("event_type")), 8)
          .cast(LongType) % cmsW).as("bucket"))
    }.reduce(_ unionByName _)
    val counters = rows.groupBy("row", "bucket").agg(count(lit(1)).as("c"))
    val exact = events.groupBy("event_type").agg(count(lit(1)).as("exact"))
    val addressed = exact.select(col("event_type"))
      .crossJoin(broadcast((0 until cmsD).toDF("row")))
      .withColumn("bucket",
        md5Prefix(concat(col("row").cast(StringType), lit("|"),
          col("event_type")), 8).cast(LongType) % cmsW)
    addressed.join(broadcast(counters), Seq("row", "bucket"))
      .groupBy("event_type").agg(min(col("c")).as("cms_est"))
      .join(exact, "event_type")
      .select(col("event_type"), col("exact"), col("cms_est"),
        (col("cms_est") - col("exact")).as("overestimate"))
      .orderBy("event_type")
  }

  private def aggCmsEstimate(s: SparkSession, d: String): DataFrame =
    cmsEstimate(t(s, d, "events"))

  private val oAggCmsEstimate = {
    val rowSelects = (0 until cmsD).map { i =>
      s"""SELECT $i AS row, ${oMd5Prefix(s"'$i|' || event_type", 8)} % $cmsW AS bucket FROM events"""
    }.mkString("\n  UNION ALL ")
    s"""WITH rows_ AS ($rowSelects),
       |counters AS (SELECT row, bucket, count(*) AS c
       |  FROM rows_ GROUP BY 1, 2),
       |exact AS (SELECT event_type, count(*) AS exact
       |  FROM events GROUP BY 1),
       |addr AS (SELECT e.event_type, r.row,
       |    ${oMd5Prefix("r.row || '|' || e.event_type", 8)} % $cmsW AS bucket
       |  FROM exact e, (SELECT unnest(generate_series(0, ${cmsD - 1})) AS row) r),
       |est AS (SELECT a.event_type, CAST(min(c.c) AS BIGINT) AS cms_est
       |  FROM addr a JOIN counters c ON c.row = a.row AND c.bucket = a.bucket
       |  GROUP BY 1)
       |SELECT e.event_type, e.exact, est.cms_est,
       |  est.cms_est - e.exact AS overestimate
       |FROM exact e JOIN est USING (event_type)
       |ORDER BY e.event_type""".stripMargin
  }

  // ---- ts_hampel_outliers ----

  /** Hampel-style outlier filter over the per-type daily series: the
    * rolling median of the centered 7-day window (exact middle element —
    * odd window, pure integers) replaces the mean, so one spike can't
    * drag its own detection threshold (the failure mode of
    * `ts_anomaly_zscore` on short series). Flag where
    * |x − med7|·2 > med7, only for complete windows (edge days emit
    * med7 = −1, unflagged). All integer arithmetic; windows partitioned
    * per event_type. */
  private[graft] def hampelOutliers(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day_num")
      .rowsBetween(-3, 3)
    daily
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("med7",
        when(col("nw") === 7,
          element_at(array_sort(collect_list(col("cnt")).over(w)), 4))
          .otherwise(lit(-1L)))
      .withColumn("flag",
        col("nw") === 7 && abs(col("cnt") - col("med7")) * 2 > col("med7"))
      .select("event_type", "day_num", "cnt", "med7", "flag")
      .orderBy("event_type", "day_num")
  }

  private def tsHampelOutliers(s: SparkSession, d: String): DataFrame =
    hampelOutliers(QRound9b.evDaily(s, d))

  private val oDaily =
    """SELECT event_type, epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
      |    count(*) AS cnt FROM events GROUP BY 1, 2""".stripMargin

  private val oTsHampelOutliers =
    s"""WITH daily AS ($oDaily),
       |r AS (SELECT event_type, day_num, cnt,
       |    count(*) OVER (PARTITION BY event_type ORDER BY day_num
       |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw,
       |    CAST(median(cnt) OVER (PARTITION BY event_type ORDER BY day_num
       |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS m
       |  FROM daily)
       |SELECT event_type, day_num, cnt,
       |  CASE WHEN nw = 7 THEN m ELSE -1 END AS med7,
       |  nw = 7 AND abs(cnt - m) * 2 > m AS flag
       |FROM r ORDER BY event_type, day_num""".stripMargin

  val queries: Map[String, QFn] = Map(
    "scan_binary_files"  -> scanBinaryFiles _,
    "agg_cms_estimate"   -> aggCmsEstimate _,
    "ts_hampel_outliers" -> tsHampelOutliers _)

  val oracles: Map[String, String] = Map(
    "scan_binary_files"  -> oScanBinaryFiles,
    "agg_cms_estimate"   -> oAggCmsEstimate,
    "ts_hampel_outliers" -> oTsHampelOutliers)
}
