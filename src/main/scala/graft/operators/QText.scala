package graft.operators

import graft.QueryPack
import graft.functions.{BigramExplode, MinHashSig, TrigramShingles}
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis + deduplication over the `documents` table — SURVEY.md §2.9
  * plus the north-star training-data-pipeline operators (BASELINE.json:6):
  * exact dedup, MinHash, SimHash, n-gram Jaccard, quality scoring, token
  * counting, fingerprinting.
  *
  * Scale notes (100 TB corpus):
  *  - Exact dedup is a hash-groupBy on md5(text): one shuffle keyed by
  *    digest, arbitrarily parallel, no skew (hashes are uniform).
  *  - MinHash: tokenize -> explode -> per-doc min of k seeded digests. The
  *    explode happens map-side and the groupBy(doc_id) combines partially,
  *    so the shuffle carries k digests per doc, not the token stream. Near
  *    dups are then found by grouping equal signatures (band-bucket join),
  *    never by pairwise comparison.
  *  - SimHash packs a 16-bit signature per doc — a fixed-width sketch whose
  *    cost is one aggregation; Hamming-close buckets can then be
  *    self-joined on the signature.
  *  - Pairwise Jaccard is intentionally restricted to a candidate window
  *    (doc_id < 40): at scale the candidate set comes from LSH buckets, not
  *    a cross join — this key verifies the verifier, not the candidate
  *    generator.
  *  - All hashing is md5 (hex) — portable across engines and partitionings
  *    (SURVEY App. A r5; Spark hash()/xxhash64 have no DuckDB twin).
  */
object QText extends QueryPack {

  /** The documents with their " "-split tokens as `toks`. */
  private[operators] def docsToks(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("toks", split(col("text"), " "))

  // ---- tokenize + top-k word count ----

  private def textTokenizeWordcount(s: SparkSession, d: String): DataFrame =
    docsToks(s, d)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)

  private val oTextTokenizeWordcount =
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin

  // ---- bigrams via the custom Generator ----

  private def textNgramBigram(s: SparkSession, d: String): DataFrame =
    docsToks(s, d).filter(col("doc_id") < 10)
      .select(col("doc_id"), BigramExplode.of(col("toks")).as(Seq("pos", "bigram")))
      .orderBy("doc_id", "pos")

  private val oTextNgramBigram =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
      |           WHERE doc_id < 10),
      |     e AS (SELECT doc_id, t,
      |             unnest(generate_series(1, len(t)-1)) AS pos FROM d)
      |SELECT doc_id, CAST(pos AS INT) AS pos,
      |  t[pos] || ' ' || t[pos+1] AS bigram
      |FROM e ORDER BY doc_id, pos""".stripMargin

  // ---- exact dedup ----

  private def textDedupExact(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("h", md5(col("text").cast(BinaryType)))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("h")

  private val oTextDedupExact =
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- MinHash signatures (portable: seeded md5 over tokens) ----

  private val minhashK = 4

  private def textDedupMinhash(s: SparkSession, d: String): DataFrame = {
    val sigs: Seq[Column] = (0 until minhashK).map { k =>
      min(md5(concat(lit(s"$k|"), col("word")).cast(BinaryType))).as(s"sig$k")
    }
    docsToks(s, d)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy("doc_id")
      .agg(sigs.head, sigs.tail: _*)
      .orderBy("doc_id")
  }

  private val oTextDedupMinhash = {
    val sigs = (0 until minhashK)
      .map(k => s"min(md5('$k|' || word)) AS sig$k").mkString(",\n  ")
    s"""SELECT doc_id, $sigs
       |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- SimHash (16-bit, md5-derived — portable) ----

  private def textSimhash(s: SparkSession, d: String): DataFrame = {
    val h = md5Prefix(col("word").cast(BinaryType), 15).cast(LongType)
    val bitSums: Seq[Column] = (0 until 16).map { b =>
      sum(when((shiftright(col("h"), b).bitwiseAND(lit(1L))) === 1L, 1)
        .otherwise(-1)).as(s"s$b")
    }
    val packed = (0 until 16).map { b =>
      when(col(s"s$b") >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    docsToks(s, d)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .withColumn("h", h)
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.cast(IntegerType).as("simhash"))
      .orderBy("doc_id")
  }

  private val oTextSimhash = {
    val bitSums = (0 until 16).map { b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n    ")
    val packed = (0 until 16)
      .map(b => s"(CASE WHEN s$b >= 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id,
       |    ${oMd5Prefix("word", 15)} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)),
       |  b AS (SELECT doc_id,
       |    $bitSums
       |  FROM w GROUP BY doc_id)
       |SELECT doc_id, CAST($packed AS INT) AS simhash
       |FROM b ORDER BY doc_id""".stripMargin
  }

  // ---- pairwise token-set Jaccard on a bounded candidate window ----

  private def dedupJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val base = docsToks(s, d).filter(col("doc_id") < 40)
      .select(col("doc_id"), array_distinct(col("toks")).as("tset"))
    val a = base.select(col("doc_id").as("a_id"), col("tset").as("a_t"))
    val b = base.select(col("doc_id").as("b_id"), col("tset").as("b_t"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        trunc4(
          size(array_intersect(col("a_t"), col("b_t"))).cast(DoubleType) /
          size(array_distinct(concat(col("a_t"), col("b_t")))).cast(DoubleType)
        ).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  private val oDedupJaccardPairs =
    s"""WITH d AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS tset
       |           FROM documents WHERE doc_id < 40)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  ${oTrunc4("CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE) / " +
                    "CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE)")} AS jaccard
       |FROM d a JOIN d b ON a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin

  // ---- banded MinHash LSH near-dup pairs (the scalable dedup pipeline) ----

  /** LSH geometry: k = b·r MinHashes over 3-word shingles, banded into b
    * bands of r rows. Hash family: band j's r MinHashes are the four
    * 8-hex-char CHUNKS of one seeded md5 — one md5 call per (shingle, band)
    * instead of one per (shingle, hash), and chunks of a strong hash are
    * genuinely independent. (Two rejected designs, both probed: a
    * double-hash scheme h1 + i·h2 missed 2/25 planted pairs at sf0.01 —
    * with ~64-shingle docs the linear combos share their argmin far too
    * often; 32 separate seeded md5s had perfect recall but 4× the hashing
    * cost of this scheme, which also has perfect recall at every sf.)
    * P(candidate | j=0.9) = 1-(1-0.9^4)^8 = 0.9998 per pair;
    * P(candidate | j≈0, the corpus bulk) ≈ 0 — probed: candidates == true
    * pairs (25 of 124,750 possible at sf0.01, 256 of 12.5M at sf0.1). */
  private[operators] val lshR = 4
  private[operators] val lshB = 8

  /** Distinct 3-word shingles per document (Broder's near-dup unit: word
    * n-grams separate true sequence-level near-dups from mere vocabulary
    * overlap — this corpus has only 31 distinct words, so token-set
    * similarity is uniformly high while shingle similarity isolates the
    * 25 planted near-dup pairs). Native expression — the HOF spelling
    * interprets its lambda per token (see TrigramShingles). */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    // repartition before shingling: the testdata parquet is one row group,
    // so without it the entire shingle+signature map pipeline (8 md5s per
    // shingle) runs inside the single scan task; one cheap shuffle of the
    // raw text buys full-width parallelism for the hash work. On a real
    // multi-file corpus the scan is already parallel and this coalesces to
    // the same shape.
    docsToks(s, d).repartition(col("doc_id"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TrigramShingles.of(col("toks")).as("shs"))
  }

  /** Candidate pairs from band-bucket collisions over the memoized shingle
    * table — exposed for the specs that assert |candidates| ≪ N²/2 and
    * that no shuffle sits between the shingles and the band keys. One
    * shuffle keyed by (band, bkey) (uniform md5 keys), in-bucket pairs
    * only: never an all-pairs join. */
  private[graft] def lshCandidates(s: SparkSession, d: String): DataFrame =
    lshCandidatesFrom(shingledPersisted(s, d))

  private def lshCandidatesFrom(sets: DataFrame): DataFrame =
    bucketPairs(bandKeys(signature(sets), lshB, lshR))

  /** MinHash signature of each row's shingle set `shs`: rows (keep...,
    * k0..k31), k = j·lshR + c the min over shingles of the c-th 8-hex
    * chunk of md5("j|" + shingle). One per-row projection through the
    * [[MinHashSig]] kernel (rows without shingles drop out): no explode
    * and no shuffle, so the batch keys and the streaming admission key
    * share it. Oracle twin [[oMinhashSig]]. */
  private[graft] def signature(sets: DataFrame,
      keep: Seq[String] = Seq("doc_id")): DataFrame =
    sets.filter(size(col("shs")) > 0)
      .select(keep.map(col) :+ MinHashSig.of(col("shs"), lshB, lshR).as("sig"): _*)
      .select(keep.map(col) ++ (0 until lshB * lshR).map { k =>
        col("sig").getItem(k).as(s"k$k")
      }: _*)

  /** `b` band keys per signature row: band i's key is the md5 of
    * k(i·r) .. k(i·r + r − 1) joined by ",". Rows (keep..., band, bkey);
    * oracle twin [[oBandKeys]]. */
  private[operators] def bandKeys(sig: DataFrame, b: Int, r: Int,
      keep: Seq[String] = Seq("doc_id")): DataFrame = {
    val bandCols = (0 until b).map { i =>
      struct(lit(i).as("band"),
        md5(concat_ws(",", (i * r until (i + 1) * r).map(k => col(s"k$k")): _*)
          .cast(BinaryType)).as("bkey"))
    }
    sig.select(keep.map(col) :+ explode(array(bandCols: _*)).as("bk"): _*)
      .select(keep.map(col) ++ Seq(col("bk.band").as("band"),
        col("bk.bkey").as("bkey")): _*)
  }

  /** Distinct candidate pairs (a_id < b_id) sharing a band bucket, from
    * band rows (doc_id, band, bkey). Bucket-local enumeration (one
    * signature pass — a bands-self-join would recompute the whole
    * signature pipeline for each side); buckets are tiny (near-dup
    * groups), so the nested HOF runs on 2-3 element arrays. */
  private[operators] def bucketPairs(bands: DataFrame): DataFrame =
    bands.groupBy("band", "bkey")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a_id, y AS b_id))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id")).distinct()

  /** Oracle twin of [[signature]] over `documents`: the WITH clause's
    * `t`, `shl`, `ex` and `sig` CTEs, the 32 mins named `name(k)`. */
  private[operators] def oMinhashSig(name: Int => String,
      materialized: Boolean = false): String = {
    val mins = (for (j <- 0 until lshB; c <- 0 until lshR) yield
      s"min(substr(md5('$j|' || s), ${c * 8 + 1}, 8)) AS ${name(j * lshR + c)}")
      .mkString(",\n    ")
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |  shl AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |             for i in range(1, len(w)-1)]) AS shs FROM t WHERE len(w) >= 3),
       |  ex AS (SELECT doc_id, unnest(shs) AS s FROM shl),
       |  sig AS ${if (materialized) "MATERIALIZED " else ""}(SELECT doc_id,
       |    $mins
       |  FROM ex GROUP BY doc_id)""".stripMargin
  }

  /** Oracle twin of [[bandKeys]] over the `sig` CTE: one
    * `SELECT doc_id, band, bkey` per band, UNION ALL'd. */
  private[operators] def oBandKeys(b: Int, r: Int, name: Int => String): String =
    (0 until b).map { i =>
      val cat = (i * r until (i + 1) * r).map(name).mkString(" || ',' || ")
      s"SELECT doc_id, $i AS band, md5($cat) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")

  /** The signature columns as the LSH oracles name them: m{band}_{chunk}. */
  private[operators] def oBandChunk(k: Int): String = s"m${k / lshR}_${k % lshR}"

  /** Banded-LSH near-duplicate pairs: candidates from band buckets, then
    * exact shingle-Jaccard verification at 0.8. The 100 TB shape end to
    * end: the signature is a per-row kernel over each doc's shingles;
    * bands shuffle b keys per doc; the candidate join
    * is equi on (band, bkey); the verifier only ever sees in-bucket pairs.
    *
    * The shingle table feeds three consumers (the signature pipeline and
    * both sides of the verify join), so it is persisted MEMORY_AND_DISK and
    * memoized per (session, sfDir) — the same reuse pattern a real pipeline
    * gets by checkpointing the signature table; without it the
    * tokenize+shingle scan runs 3× (and once more per dedup_cc_cluster
    * call, which consumes these pairs as its edge source). */
  private[graft] def shingledPersisted(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "shingles", d)(
      shingled(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Distinct (doc_id, word) set table, memoized per corpus beside the
    * shingle memo — the word-level sibling of [[shingledPersisted]].
    * `text_minhash_estimate` consumes it FOUR times in one call (the
    * signature groupBy, the per-doc sizes, and both sides of the
    * pair-scoped intersection join); un-shared, the tokenize + distinct
    * scan re-ran per consumer (VERDICT r12 #1e, ~2.6× the oracle).
    * Corpus-bounded: one row per distinct (doc, word). */
  private[graft] def docWordsPersisted(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "docwords", d)(
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .distinct()
        .localCheckpoint(true))

  /** Verified near-dup pairs, memoized + lineage-truncated
    * (localCheckpoint): the pair table is the shared input of the declared
    * pairs key AND the CC clustering stage (QRound4.ccLabels) — snapshotting
    * it between stages is exactly what a production dedup pipeline does,
    * and the table is tiny (one row per verified near-dup pair), so the
    * checkpoint costs one materialization of the signature pipeline and
    * every later consumer pays a leaf-scan, not an 8-md5s-per-shingle
    * recompute. */
  private[graft] def lshPairsPersisted(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "lshpairs", d) {
      val sets = shingledPersisted(s, d)
      val cand = lshCandidatesFrom(sets)
      val sa = sets.select(col("doc_id").as("a_id"), col("shs").as("a_s"))
      val sb = sets.select(col("doc_id").as("b_id"), col("shs").as("b_s"))
      cand.join(sa, "a_id").join(sb, "b_id")
        .select(col("a_id"), col("b_id"),
          trunc4(
            size(array_intersect(col("a_s"), col("b_s"))).cast(DoubleType) /
            size(array_distinct(concat(col("a_s"), col("b_s")))).cast(DoubleType)
          ).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .localCheckpoint()
    }

  private def dedupLshPairs(s: SparkSession, d: String): DataFrame =
    lshPairsPersisted(s, d).orderBy("a_id", "b_id")

  private[operators] val oDedupLshPairs: String =
    s"""${oMinhashSig(oBandChunk)},
       |  bands AS (${oBandKeys(lshB, lshR, oBandChunk)}),
       |  cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |    FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |      AND a.doc_id < b.doc_id),
       |  j AS (SELECT a_id, b_id,
       |      ${oTrunc4("CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) / " +
                        "len(list_distinct(list_concat(sa.shs, sb.shs)))")} AS jaccard
       |    FROM cand JOIN shl sa ON sa.doc_id = a_id JOIN shl sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  // ---- corpus profile ----

  private def textLangProfile(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        trunc4(sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang", "source")

  private val oTextLangProfile =
    s"""SELECT lang, source, count(*) AS n_docs,
       |  ${oTrunc4("CAST(SUM(n_chars) AS DOUBLE)/count(*)")} AS avg_chars,
       |  max(n_chars) AS max_chars
       |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---- quality scoring (length / diversity / stopword ratios) ----

  private val stopWords = Seq("scan", "join", "order", "key", "table")

  private def textQualityScore(s: SparkSession, d: String): DataFrame = {
    docsToks(s, d)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("stop_hits",
        size(filter(col("toks"), tk => tk.isin(stopWords.map(x => x: Any): _*))))
      .select(col("doc_id"), col("n_toks"), col("n_distinct"), col("stop_hits"),
        trunc4(col("n_distinct").cast(DoubleType) / col("n_toks")).as("ttr"),
        trunc4((length(col("text")) - col("n_toks") + 1).cast(DoubleType) /
          col("n_toks")).as("avg_word_len"),
        trunc4(col("stop_hits").cast(DoubleType) / col("n_toks")).as("stop_ratio"))
      .orderBy("doc_id")
  }

  private val oTextQualityScore = {
    val stopList = stopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents),
       |  m AS (SELECT doc_id, text,
       |    CAST(len(toks) AS INT) AS n_toks,
       |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
       |    CAST(len(list_filter(toks, tk -> list_contains($stopList, tk))) AS INT) AS stop_hits
       |  FROM d)
       |SELECT doc_id, n_toks, n_distinct, stop_hits,
       |  ${oTrunc4("CAST(n_distinct AS DOUBLE)/n_toks")} AS ttr,
       |  ${oTrunc4("CAST(length(text) - n_toks + 1 AS DOUBLE)/n_toks")} AS avg_word_len,
       |  ${oTrunc4("CAST(stop_hits AS DOUBLE)/n_toks")} AS stop_ratio
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- token counting: whitespace, regex, BPE-ish estimate ----

  private def textTokenCount(s: SparkSession, d: String): DataFrame =
    docsToks(s, d).select(
      col("doc_id"),
      size(col("toks")).as("n_ws"),
      regexp_count(col("text"), lit("[a-z0-9]+")).cast(IntegerType).as("n_re"),
      ceil(length(col("text")) / 4.0).as("bpe_est"))
      .orderBy("doc_id")

  private val oTextTokenCount =
    """SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS INT) AS n_ws,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_re,
      |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- document fingerprint: canonicalized token-set digest ----

  private def textFingerprint(s: SparkSession, d: String): DataFrame =
    docsToks(s, d).select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(col("toks"))), " ")
        .cast(BinaryType)).as("fingerprint"))
      .orderBy("doc_id")

  private val oTextFingerprint =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "text_tokenize_wordcount" -> textTokenizeWordcount _,
    "text_ngram_bigram"       -> textNgramBigram _,
    "text_dedup_exact"        -> textDedupExact _,
    "text_dedup_minhash"      -> textDedupMinhash _,
    "text_simhash"            -> textSimhash _,
    "dedup_jaccard_pairs"     -> dedupJaccardPairs _,
    "dedup_lsh_pairs"         -> dedupLshPairs _,
    "text_lang_profile"       -> textLangProfile _,
    "text_quality_score"      -> textQualityScore _,
    "text_token_count"        -> textTokenCount _,
    "text_fingerprint"        -> textFingerprint _)

  val oracles: Map[String, String] = Map(
    "text_tokenize_wordcount" -> oTextTokenizeWordcount,
    "text_ngram_bigram"       -> oTextNgramBigram,
    "text_dedup_exact"        -> oTextDedupExact,
    "text_dedup_minhash"      -> oTextDedupMinhash,
    "text_simhash"            -> oTextSimhash,
    "dedup_jaccard_pairs"     -> oDedupJaccardPairs,
    "dedup_lsh_pairs"         -> oDedupLshPairs,
    "text_lang_profile"       -> oTextLangProfile,
    "text_quality_score"      -> oTextQualityScore,
    "text_token_count"        -> oTextTokenCount,
    "text_fingerprint"        -> oTextFingerprint)
}
