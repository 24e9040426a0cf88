package graft.queries

import graft.Q
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, n-gram language-ID heuristic,
  * document fingerprinting, n-gram frequency. All are pure column
  * expressions (whole-stage codegen, no UDFs) so at 100 TB they run as a
  * single scan + narrow map per document, aggregating only the small
  * per-language/per-bucket outputs.
  */

/** q76's per-document repetition metrics — TOP-LEVEL for the same
  * Janino reason as [[GateMetrics]]: nested case classes break the
  * generated UnsafeProjection and silently fall back to interpreted. */
final case class RepMetrics(n_tokens: Long, n_distinct: Long, top_bg: Long)

object TextOps {

  private def tokens(c: Column): Column = split(trim(c), " +")

  /** Count tokens from `toks` that appear in the fixed word set. */
  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words.map(w => w: Any): _*)))

  private def oHits(col: String, words: Seq[String], as: String): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter($col, x -> x IN ($set))) AS INTEGER) AS $as"
  }

  // Tiny per-language stopword sets for the n-gram/stopword language-ID
  // heuristic (public-knowledge function words).
  private val EN = Seq("the", "and", "of", "to", "a", "in", "is", "it")
  private val ES = Seq("el", "la", "de", "que", "y", "en", "los", "es")
  private val DE = Seq("der", "die", "und", "das", "ist", "ein", "zu", "den")

  /** Whitespace tokenization + simple stats per document. */
  val q30 = Q(
    "q30_token_stats",
    "token count, char count, mean token length per document",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          tokens(col("text")).as("toks"),
          length(col("text")).as("n_chars_text"))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).as("n_tokens"),
          col("n_chars_text"),
          round(length(concat_ws("", col("toks"))).cast("double") /
            size(col("toks")).cast("double"), 4).as("mean_token_len"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        CAST(length(text) AS INTEGER) AS n_chars_text,
        round(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 4) AS mean_token_len
      FROM (SELECT doc_id, lang, text, string_split_regex(trim(text), ' +') AS toks FROM documents)
      ORDER BY doc_id"""))

  /** Stopword-hit language-ID heuristic; deterministic argmax tie-break
    * en > es > de. On this synthetic corpus the text is English-ish so
    * the interesting output is the (labeled, guessed) contingency. */
  val q31 = Q(
    "q31_langid_heuristic",
    "stopword-ratio language guess vs labeled lang, contingency counts",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
        .select(col("lang"),
          hits(col("toks"), EN).as("en_hits"),
          hits(col("toks"), ES).as("es_hits"),
          hits(col("toks"), DE).as("de_hits"))
        .withColumn("guess",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits"), "en")
            .when(col("es_hits") >= col("de_hits"), "es")
            .otherwise("de"))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("en_hits")).cast("long").as("sum_en_hits"))
        .orderBy(col("lang"), col("guess")),
    Some(s"""SELECT lang, guess, count(*) AS n_docs, CAST(sum(en_hits) AS BIGINT) AS sum_en_hits FROM (
        SELECT lang, en_hits, es_hits, de_hits,
          CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
               WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END AS guess
        FROM (SELECT lang,
            ${oHits("toks", EN, "en_hits")},
            ${oHits("toks", ES, "es_hits")},
            ${oHits("toks", DE, "de_hits")}
          FROM (SELECT lang, string_split_regex(trim(text), ' +') AS toks FROM documents)))
      GROUP BY lang, guess ORDER BY lang, guess"""))

  /** Heuristic quality score: length band + stopword ratio + lexical
    * diversity (distinct/total tokens), bucketed. The formula mirrors the
    * reference's additive rule-scoring style (validate_quality.py:174-190)
    * applied to documents. */
  val q32 = Q(
    "q32_doc_quality",
    "additive quality score from length/stopword/diversity signals",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"), col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(col("toks")).as("n_tokens"),
          hits(col("toks"), EN).as("stop_hits"),
          size(array_distinct(col("toks"))).as("n_distinct"))
        .withColumn("score",
          when(col("n_chars").between(100, 1000), 40).otherwise(10) +
            when(col("stop_hits") > 0, 30).otherwise(0) +
            when(col("n_distinct").cast("double") / col("n_tokens").cast("double") > lit(0.5), 30)
              .otherwise(15))
        .withColumn("bucket",
          when(col("score") >= 80, "high").when(col("score") >= 55, "medium").otherwise("low"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score")).cast("long").as("sum_score"))
        .orderBy(col("lang"), col("bucket")),
    Some(s"""SELECT lang, bucket, count(*) AS n_docs, CAST(sum(score) AS BIGINT) AS sum_score FROM (
        SELECT lang,
          CASE WHEN score >= 80 THEN 'high' WHEN score >= 55 THEN 'medium' ELSE 'low' END AS bucket,
          score
        FROM (
          SELECT lang,
            (CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 40 ELSE 10 END +
             CASE WHEN stop_hits > 0 THEN 30 ELSE 0 END +
             CASE WHEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.5 THEN 30 ELSE 15 END) AS score
          FROM (SELECT lang, n_chars,
              CAST(len(toks) AS INTEGER) AS n_tokens,
              ${oHits("toks", EN, "stop_hits")},
              CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct
            FROM (SELECT lang, n_chars, string_split_regex(trim(text), ' +') AS toks FROM documents))))
      GROUP BY lang, bucket ORDER BY lang, bucket"""))

  /** Content-defined fingerprint: md5 over the alnum-normalized text —
    * identical hex in both engines, so exact-dup detection is
    * oracle-checkable. */
  val q33 = Q(
    "q33_fingerprint",
    "md5 fingerprint of normalized text; exact-duplicate groups",
    // alnumLowerUdf == lower(regexp_replace(…)) char-for-char
    // (FunctionProps pin); the regex form was 155 s of this query's
    // 2M-doc run and does not scale with threads (THROUGHPUT.md).
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), md5(alnumLowerUdf(col("text"))).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
        .orderBy(col("fp")),
    Some("""SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
      FROM (SELECT doc_id, md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS fp FROM documents)
      GROUP BY fp ORDER BY fp"""))

  /** Word-trigram shingles via a generator (explode) — the shingling
    * primitive under MinHash dedupe; global top-k shingles. */
  val q34 = Q(
    "q34_trigram_shingles",
    "explode word 3-gram shingles, top 25 by frequency",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 3)
        // JIT shingle strings (shingleStringsUdf): same values in the
        // same order as the transform/concat_ws lambda, which is
        // interpreted per element — 56 s of the 2M-doc run.
        .select(col("doc_id"), explode(shingleStringsUdf(3)(col("toks")))
          .as("shingle"))
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("shingle"))
        .limit(25),
    Some("""SELECT shingle, count(*) AS n, count(DISTINCT doc_id) AS n_docs FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents)
        WHERE len(toks) >= 3)
      GROUP BY shingle ORDER BY n DESC, shingle LIMIT 25"""))

  /** BPE-ish pre-tokenizer regex (GPT-2-style pre-split shape:
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs). Plain ASCII classes so Java regex (Spark) and
    * RE2 (DuckDB) agree. */
  private val BpeRe = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Subword-style token accounting: the LLM-pipeline token-count
    * estimate (whitespace counting under-counts punctuation-heavy
    * text). regexp_extract_all keeps the split in codegen. */
  val q35 = Q(
    "q35_bpe_tokens",
    "BPE-style regex pre-tokenization counts vs whitespace counts",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(text, \"$BpeRe\", 0)")).as("bpe_tokens"),
          size(tokens(col("text"))).as("ws_tokens"),
          length(col("text")).as("n_chars"))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") / col("bpe_tokens").cast("double"), 4))
        .orderBy(col("doc_id")),
    Some {
      val re = BpeRe.replace("'", "''")
      s"""SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$re')) AS INTEGER) AS bpe_tokens,
        CAST(len(string_split_regex(trim(text), ' +')) AS INTEGER) AS ws_tokens,
        CAST(length(text) AS INTEGER) AS n_chars,
        round(CAST(length(text) AS DOUBLE) /
              CAST(len(regexp_extract_all(text, '$re')) AS DOUBLE), 4) AS chars_per_token
      FROM documents ORDER BY doc_id"""
    })

  // -- q36: deterministic train/val/test split --------------------------

  /** Hash-based corpus splitting — the standard training-data split
    * device: assignment is a pure function of the stable document id
    * (never of row order or partitioning), so the split is reproducible
    * across runs, engines and cluster layouts, and new documents route
    * without reshuffling old ones. At 100 TB this is a narrow
    * map + one aggregation; no sampling state, no driver round-trips. */
  val q36 = Q(
    "q36_train_split",
    "deterministic hash split train/val/test (90/5/5) per source",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          (h60(concat(lit("split:"), col("doc_id"))) % 100).as("b"))
        .withColumn("split",
          when(col("b") < 90, "train").when(col("b") < 95, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("split")),
    Some(s"""SELECT source, split, count(*) AS n_docs FROM (
        SELECT source,
          CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT source, ${oH60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b
              FROM documents))
      GROUP BY source, split ORDER BY source, split"""))

  // -- q37: TF-IDF distinctive terms ------------------------------------

  /** TF-IDF over the token table: one explode + two hash aggregations
    * (term frequency per doc, document frequency per term) and a
    * broadcast-sized term-dim join. ln() agrees between JVM and DuckDB
    * libm for these magnitudes; the score is rounded to 4dp before the
    * top-k to keep the hash comparison stable. */
  val q37 = Q(
    "q37_tfidf_topk",
    "top-15 distinctive terms by max TF-IDF across the corpus",
    (s, dir) => {
      val n = t(s, dir, "documents").count()
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
        .where(col("term") =!= "")
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(df, "term")
        .select(col("term"), col("doc_id"),
          round(col("tf").cast("double") *
            log(lit(n.toDouble) / col("df").cast("double")), 4).as("tfidf"))
        .groupBy(col("term"))
        .agg(max(col("tfidf")).as("max_tfidf"), count(lit(1)).as("n_docs"))
        .orderBy(col("max_tfidf").desc, col("term"))
        .limit(15)
    },
    Some("""WITH tf AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS term
          FROM documents)
        WHERE term <> '' GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
      SELECT term, max(tfidf) AS max_tfidf, count(*) AS n_docs FROM (
        SELECT tf.term, tf.doc_id,
          round(CAST(tf AS DOUBLE) * ln(n.n / CAST(df AS DOUBLE)), 4) AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
      GROUP BY term ORDER BY max_tfidf DESC, term LIMIT 15"""))

  // -- q38: winnowing fingerprints --------------------------------------

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    * the MOSS scheme): hash every positional character 5-gram, then
    * select the minimum hash in each sliding window of 4 consecutive
    * positions; the distinct selected hashes are the document's
    * fingerprint set, robust to insertions/reordering where the exact
    * md5 fingerprint (q33) is not. Runs as a per-document KERNEL (the
    * algorithm never crosses document boundaries): one narrow scan,
    * zero shuffles — see the in-body note for the measured plan
    * comparison against the explode + frame-window form. */
  val q38 = Q(
    "q38_winnowing",
    "winnowing fingerprint set sizes: min-hash per 4-window over 5-gram hashes",
    (s, dir) => {
      // Space-preserving twin of q33's kernel swap (FunctionProps pin);
      // the regex norm dominated the 2M-doc run (THROUGHPUT.md).
      val norm = alnumSpaceLowerUdf(col("text"))
      // Winnowing is a PER-DOCUMENT kernel, so it runs as one: a
      // JIT-compiled pass over each document computing the polynomial
      // gram hashes (base 131 mod 1e9+7 over ASCII codes — portable,
      // the SQL oracle spells out the same arithmetic), the 4-window
      // minima, and the distinct-fingerprint count — zero shuffles,
      // nothing per-gram ever leaves the row. The declarative form
      // (posexplode → frame-window min → countDistinct) moved 5 M
      // (doc_id, pos, hash) rows through two exchanges and paid an
      // interpreted transform lambda per gram: 5.8 s isolated at
      // sf0.1 vs 1.3 s for the kernel. (An md5-per-gram variant and a
      // positional-substr variant measured worse still — 5-char
      // dynamic substr on a long UTF8String is an O(pos) seek.) The
      // SQL oracle stays fully declarative, so the kernel is
      // value-checked end-to-end, and the md5-backed h60 stays where
      // cross-engine SKETCH identity is the output contract
      // (MinHash/SimHash, q51/q52).
      val winnow = udf { (t: String) =>
        val n = t.length - 4
        val hs = new Array[Long](n)
        var i = 0
        while (i < n) {
          var h = 0L
          var k = 0
          while (k < 5) { h = h * 131 + t.charAt(i + k); k += 1 }
          hs(i) = h % 1000000007L
          i += 1
        }
        val fps = new java.util.HashSet[java.lang.Long]()
        i = 0
        while (i < n) {
          var m = hs(i)
          var j = i + 1
          while (j < n && j <= i + 3) { if (hs(j) < m) m = hs(j); j += 1 }
          fps.add(m)
          i += 1
        }
        (n.toLong, fps.size.toLong)
      }
      t(s, dir, "documents")
        .select(col("doc_id"), norm.as("t"))
        .where(length(col("t")) >= 5)
        .select(col("doc_id"), winnow(col("t")).as("w"))
        .select(col("doc_id"), col("w._1").as("n_windows"),
          col("w._2").as("n_fingerprints"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH g AS (
        SELECT doc_id, i AS pos,
          (CAST(ascii(substring(t, i, 1)) AS BIGINT) * 294499921
           + CAST(ascii(substring(t, i + 1, 1)) AS BIGINT) * 2248091
           + CAST(ascii(substring(t, i + 2, 1)) AS BIGINT) * 17161
           + CAST(ascii(substring(t, i + 3, 1)) AS BIGINT) * 131
           + CAST(ascii(substring(t, i + 4, 1)) AS BIGINT)) % 1000000007 AS h
        FROM (SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS t
              FROM documents)
        CROSS JOIN unnest(range(1, length(t) - 3)) AS r(i)
        WHERE length(t) >= 5)
      SELECT doc_id, count(*) AS n_windows,
        count(DISTINCT fp) AS n_fingerprints
      FROM (
        SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM g)
      GROUP BY doc_id ORDER BY doc_id"""))

  // PII regexes — restricted to the syntax subset Java regex (Spark)
  // and RE2 (DuckDB) treat identically: character classes, bounded
  // repetition, no backrefs/lookaround.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the scrub step a training-data pipeline runs
    * before anything leaves the raw zone. The corpus text is synthetic
    * word salad, so each document deterministically composes a
    * contact line (2/3 of docs get an email, 3/4 a phone, from the
    * doc_id) that BOTH engines derive identically; masking then runs
    * as pure codegen `regexp_replace` — one narrow pass per document,
    * no UDFs, trivially 100 TB-parallel. The hash compare covers the
    * full redacted text, so any regex-dialect divergence fails loudly. */
  val q74 = Q(
    "q74_pii_redact",
    "email/phone PII masking with per-doc match counts (codegen regexp)",
    (s, dir) => {
      val email = when(col("doc_id") % 3 =!= 0,
        concat(lit("user"), col("doc_id"), lit("@example.com"))).otherwise("")
      val phone = when(col("doc_id") % 4 =!= 0,
        concat(lit("617-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise("")
      val composed = concat(substring(col("text"), 1, 80),
        lit(" contact: "), email, lit(" tel "), phone, lit(" ref 12-34"))
      t(s, dir, "documents")
        .select(col("doc_id"), composed.as("text"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>").as("redacted"),
          regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH composed AS (
        SELECT doc_id,
          substring(text, 1, 80) || ' contact: ' ||
          (CASE WHEN doc_id % 3 <> 0
                THEN 'user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END) ||
          ' tel ' ||
          (CASE WHEN doc_id % 4 <> 0
                THEN '617-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END) ||
          ' ref 12-34' AS text
        FROM documents)
      SELECT doc_id,
        regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
          '$PhoneRe', '<PHONE>', 'g') AS redacted,
        CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones
      FROM composed ORDER BY doc_id"""))

  /** Deterministic sequence packing — the manifest step that groups
    * documents into fixed token-budget training rows. Docs are hashed
    * into 32 independent buckets and packed greedily in doc_id order
    * inside each bucket: pack_id = floor(running-tokens-before / B).
    * The window runs PARTITIONED (never a global single-partition
    * sort), so at 100 TB each bucket packs in parallel and the output
    * manifest is the per-pack rollup. */
  val q75 = Q(
    "q75_pack_sequences",
    "token-budget sequence packing manifest (bucketed running-sum window)",
    (s, dir) => {
      val B = 2048L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 32).as("bucket"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("pack_id", floor(col("cum_before").cast("double") / B).cast("long"))
        .groupBy(col("bucket"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("bucket"), col("pack_id"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, doc_id % 32 AS bucket,
          CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
        FROM documents),
      packed AS (
        SELECT *,
          CAST(floor(CAST(coalesce(sum(n_tokens) OVER (
              PARTITION BY bucket ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
            / 2048) AS BIGINT) AS pack_id
        FROM tok)
      SELECT bucket, pack_id, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM packed GROUP BY bucket, pack_id ORDER BY bucket, pack_id"""))

  /** Repetition-based quality signals (the Gopher-rule family): the
    * fraction of tokens covered by the single most frequent word
    * bigram, and the duplicate-token ratio. Both are one explode + two
    * hash aggregations per document — narrow, codegen, no state —
    * exactly the per-document scrub pass a 100 TB corpus gets before
    * training. */
  /** One-pass per-document repetition kernel: token count, distinct
    * count, and the max bigram frequency from a single JIT scan of the
    * token array. The metrics are all PER-DOCUMENT, so the former
    * declarative shape (explode bigrams → two groupBy exchanges →
    * join back) shuffled ~n_tokens rows per document for values a
    * per-row hashmap computes in place — 47 s of the 2M-doc volume run
    * became a zero-shuffle narrow map (THROUGHPUT.md round 8). The
    * DuckDB oracle keeps the declarative form, so the kernel is
    * value-checked end-to-end. */
  private val repMetricsUdf = udf { (toks: Seq[String]) =>
    val arr = toks.toArray
    val n = arr.length
    val distinct = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { distinct.add(arr(i)); i += 1 }
    val bg = new java.util.HashMap[String, Integer](n * 2)
    var top = 0
    i = 0
    while (i < n - 1) {
      val c = bg.merge(arr(i) + " " + arr(i + 1), 1, Integer.sum(_, _))
      if (c > top) top = c
      i += 1
    }
    RepMetrics(n.toLong, distinct.size.toLong, top.toLong)
  }

  val q76 = Q(
    "q76_repetition_quality",
    "duplicate-token ratio + top-bigram coverage fraction per document",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), repMetricsUdf(col("toks")).as("rm"))
        .select(col("doc_id"), col("rm.n_tokens").as("n_tokens"),
          round(lit(1.0) - col("rm.n_distinct").cast("double") / col("rm.n_tokens"), 4)
            .as("dup_token_ratio"),
          round(col("rm.top_bg") * 2.0 / col("rm.n_tokens"), 4).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, toks,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents)
        WHERE len(toks) >= 2),
      bg AS (
        SELECT doc_id, n_tokens, bg, count(*) AS c
        FROM (SELECT doc_id, n_tokens,
                unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
              FROM tok)
        GROUP BY doc_id, n_tokens, bg),
      top AS (SELECT doc_id, round(max(c) * 2.0 / n_tokens, 4) AS top_bigram_frac
              FROM bg GROUP BY doc_id, n_tokens)
      SELECT tok.doc_id, n_tokens,
        round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS dup_token_ratio,
        top_bigram_frac
      FROM tok JOIN top ON tok.doc_id = top.doc_id
      ORDER BY tok.doc_id"""))

  /** Shared n-gram h60 kernel (see [[graft.queries.shingleH60Udf]]):
    * swapping out the interpreted Catalyst form cut q77's dominant job
    * 1.32 s → 0.62 s at sf0.1 with the oracle untouched. */
  private val shingleHashes8 = shingleH60Udf(8)

  /** Train/eval decontamination — the overlap audit every benchmark-
    * honest training pipeline runs: which val/test documents (q36's
    * deterministic split) share a word 8-gram with any train document?
    * Shingles hash to 60-bit ints, so the audit is a distinct-hash
    * equi-join whose volume tracks TRUE contamination, never the
    * train×eval cross product; at 100 TB both sides shuffle only
    * (doc_id, hash) pairs. */
  val q77 = Q(
    "q77_decontamination",
    "val/test docs sharing an 8-gram shingle with any train doc",
    (s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          (h60(concat(lit("split:"), col("doc_id"))) % 100).as("b"),
          tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 8)
        .select(col("doc_id"),
          when(col("b") < 90, "train").when(col("b") < 95, "val")
            .otherwise("test").as("split"),
          explode(shingleHashes8(col("toks"))).as("h"))
      val train = sh.where(col("split") === "train")
        .select(col("h"), col("doc_id").as("train_doc")).distinct()
      sh.where(col("split") =!= "train")
        .join(train, "h")
        .groupBy(col("doc_id"), col("split"))
        .agg(countDistinct(col("h")).as("n_shared_shingles"),
          countDistinct(col("train_doc")).as("n_train_docs"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sh AS (
        SELECT doc_id,
          CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
          unnest(list_distinct(list_transform(range(1, len(toks) - 6),
            i -> ${oH60("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]")}))) AS h
        FROM (SELECT doc_id, ${oH60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b,
                string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      train AS (SELECT DISTINCT h, doc_id AS train_doc FROM sh WHERE split = 'train')
      SELECT sh.doc_id, sh.split,
        count(DISTINCT sh.h) AS n_shared_shingles,
        count(DISTINCT train.train_doc) AS n_train_docs
      FROM sh JOIN train ON sh.h = train.h
      WHERE sh.split <> 'train'
      GROUP BY sh.doc_id, sh.split ORDER BY sh.doc_id"""))

  /** Default train-df cap for the REGISTERED q89 instance: chosen so
    * the drop path is exercised by the oracle corpora (both sf0.001
    * and sf0.01 carry train 8-grams with df 3–4; see the THROUGHPUT
    * round-8 decontamination note). A production run caps in the
    * hundreds — the point is dropping BOILERPLATE grams, which carry
    * no contamination signal but all of the join's quadratic cost. */
  private val Q89Cap = 2

  /** q77's audit with a train-df cap — the capped-join answer to the
    * blowup the 2M-doc tape corpus demonstrated (THROUGHPUT.md round
    * 8): exact `n_train_docs` joins every eval shingle occurrence
    * against every train doc carrying that shingle, so a hot
    * (boilerplate) 8-gram shared by b train docs multiplies the join
    * b-fold — 337-billion-row territory on a saturated corpus. Train
    * hashes with df > cap are dropped BEFORE the join via the same
    * size-bounded [[graft.functions.BoundedIdBag]] collector as q88,
    * so hot grams cost O(cap) in the aggregation and never reach the
    * join at all. */
  val q89 = Q(
    "q89_decontam_capped",
    s"q77 decontamination with train-df cap $Q89Cap on shingle hashes",
    (s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          (h60(concat(lit("split:"), col("doc_id"))) % 100).as("b"),
          tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 8)
        .select(col("doc_id"),
          when(col("b") < 90, "train").when(col("b") < 95, "val")
            .otherwise("test").as("split"),
          explode(shingleHashes8(col("toks"))).as("h"))
      val train = sh.where(col("split") === "train")
        .select(col("h"), col("doc_id").as("train_doc")).distinct()
      val kept = train.groupBy(col("h"))
        .agg(graft.functions.BoundedCollect.boundedIdBag(Q89Cap)(col("train_doc"))
          .as("docs"))
        .where(size(col("docs")) >= 1) // over-cap buckets emit empty
        .select(col("h"), explode(col("docs")).as("train_doc"))
      sh.where(col("split") =!= "train")
        .join(kept, "h")
        .groupBy(col("doc_id"), col("split"))
        .agg(countDistinct(col("h")).as("n_shared_shingles"),
          countDistinct(col("train_doc")).as("n_train_docs"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sh AS (
        SELECT doc_id,
          CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
          unnest(list_distinct(list_transform(range(1, len(toks) - 6),
            i -> ${oH60("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]")}))) AS h
        FROM (SELECT doc_id, ${oH60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b,
                string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      train AS (SELECT DISTINCT h, doc_id AS train_doc FROM sh WHERE split = 'train'),
      kept AS (SELECT h, train_doc FROM train
               QUALIFY count(*) OVER (PARTITION BY h) <= $Q89Cap)
      SELECT sh.doc_id, sh.split,
        count(DISTINCT sh.h) AS n_shared_shingles,
        count(DISTINCT kept.train_doc) AS n_train_docs
      FROM sh JOIN kept ON sh.h = kept.h
      WHERE sh.split <> 'train'
      GROUP BY sh.doc_id, sh.split ORDER BY sh.doc_id"""))

  private val SpanLen = 10
  private val Q95DfCap = 2

  /** C4-style corpus-frequency BOILERPLATE removal (Raffel et al.
    * 2020 §2.2 remove any repeated three-sentence span; restated here
    * over fixed 10-token spans since the corpus carries no sentence
    * punctuation): every document splits into consecutive
    * [[SpanLen]]-token spans, a span whose corpus-wide occurrence
    * count exceeds [[Q95DfCap]] is boilerplate, surviving spans
    * reassemble in document order, and the output carries the
    * span counts plus an md5 fingerprint of the reassembled text
    * (cross-engine exact, like q50's fingerprints).
    *
    * Scale shape: span-df is ONE exchange with map-side partial
    * counts; the df relation is filtered to keepable spans BEFORE the
    * join, so hot boilerplate (the high-df rows, exactly the ones
    * that would multiply join work) never ships; reassembly is one
    * groupBy carrying only kept spans. At 100 TB the span string join
    * key would move to a 60-bit hash (collision odds become material
    * only past ~10^9 distinct spans) and the df filter to a
    * count-min/BoundedIdBag pre-pass — both the q89 pattern. */
  val q95 = Q(
    "q95_span_boilerplate",
    s"C4-style boilerplate pass: drop $SpanLen-token spans with corpus count > $Q95DfCap, reassemble",
    (s, dir) => {
      // ONE corpus scan: the cached span relation feeds all three
      // consumers (df counts, the keep join, per-doc totals) — the
      // uncached form re-scanned + re-shingled the corpus three
      // times (Plans audit, round-9 continuation).
      val spans = graft.Scratch.cache(t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(tk) / ${SpanLen}.0) as int) - 1),
             |  i -> concat_ws(' ', slice(tk, i * $SpanLen + 1, $SpanLen)))""".stripMargin)))
        .toDF("doc_id", "pos", "span"))
      val keepable = spans.groupBy(col("span")).agg(count(lit(1)).as("n"))
        .where(col("n") <= Q95DfCap)
      val re = spans.join(keepable, "span")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(pos, span))), x -> x.span)")))
            .as("fp"))
      val totals = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"))
      totals.join(re, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("fp"), lit("")).as("fp"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS tk FROM documents),
      sp AS (
        SELECT doc_id, i AS pos,
          array_to_string(list_slice(tk, $SpanLen * i + 1, $SpanLen * i + $SpanLen), ' ') AS span
        FROM (SELECT doc_id, tk,
                unnest(range(0, CAST(ceil(len(tk) / ${SpanLen}.0) AS BIGINT))) AS i
              FROM tok)),
      keepable AS (
        SELECT span FROM sp GROUP BY span HAVING count(*) <= $Q95DfCap),
      re AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          md5(string_agg(span, ' ' ORDER BY pos)) AS fp
        FROM sp JOIN keepable USING (span) GROUP BY doc_id),
      tot AS (
        SELECT doc_id, CAST(ceil(len(tk) / ${SpanLen}.0) AS BIGINT) AS n_spans FROM tok)
      SELECT tot.doc_id AS doc_id, n_spans,
        coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
        coalesce(fp, '') AS fp
      FROM tot LEFT JOIN re USING (doc_id) ORDER BY doc_id"""))

  private val ChunkLen = 64
  private val ChunkOverlap = 16
  private val ChunkStride = ChunkLen - ChunkOverlap // 48

  /** Context-window CHUNKING — the training/RAG preprocessor that
    * q75's packing assumes already ran: each document splits into
    * [[ChunkLen]]-token windows advancing by [[ChunkStride]] (so
    * consecutive chunks share [[ChunkOverlap]] tokens and no token is
    * orphaned at a window boundary), the final window clamping to the
    * document tail. One output row per chunk with its exact token
    * count and a cross-engine md5 fingerprint — the manifest a
    * tokenize-and-pack stage consumes. Pure scan shape: a per-row
    * transform + posexplode, no shuffle anywhere until the output
    * sort; at 100 TB this runs at scan speed and partitions by input
    * file exactly like q30's token stats. */
  val q99 = Q(
    "q99_context_chunks",
    s"$ChunkLen-token context chunks, stride $ChunkStride (overlap $ChunkOverlap), per-chunk fingerprints",
    (s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= 1)
      tk.select(col("doc_id"), size(col("tk")).as("n"), posexplode(expr(
          s"""transform(
             |  sequence(0, cast(greatest(0, ceil((size(tk) - $ChunkLen) / ${ChunkStride}.0)) as int)),
             |  i -> concat_ws(' ', slice(tk, i * $ChunkStride + 1, $ChunkLen)))""".stripMargin)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          least(lit(ChunkLen), col("n") - col("pos") * ChunkStride).cast("long").as("n_tokens"),
          md5(col("col")).as("fp"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    Some(s"""WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS tk FROM documents),
      ch AS (
        SELECT doc_id, i AS chunk_id,
          least($ChunkLen, len(tk) - i * $ChunkStride) AS n_tokens,
          md5(array_to_string(
            list_slice(tk, i * $ChunkStride + 1, i * $ChunkStride + $ChunkLen), ' ')) AS fp
        FROM (SELECT doc_id, tk,
                unnest(range(0, 1 + CAST(greatest(0,
                  ceil((len(tk) - $ChunkLen) / ${ChunkStride}.0)) AS BIGINT))) AS i
              FROM tok WHERE len(tk) >= 1))
      SELECT doc_id, chunk_id, CAST(n_tokens AS BIGINT) AS n_tokens, fp
      FROM ch ORDER BY doc_id, chunk_id"""))

  /** The 16-entry demo dictionary for q78. A production run broadcasts
    * a 100k-name census list the same way — the plan is identical, only
    * the broadcast payload (a few MB) grows. */
  private val NameDict = Seq("alice", "bob", "carol", "dave", "erin",
    "frank", "grace", "heidi", "ivan", "judy", "mallory", "oscar",
    "peggy", "trent", "victor", "wendy")

  /** Dictionary-based name scrubbing — the complement of q74's regex
    * PII pass: real pipelines also mask PERSON NAMES against a
    * reference dictionary, which no regex can enumerate. The corpus
    * text is synthetic word salad, so each document deterministically
    * composes two dictionary names (one capitalized, one
    * punctuation-attached) plus a non-dictionary decoy that BOTH
    * engines derive identically; the scrub is then the scale shape a
    * 100 TB corpus needs:
    *
    *   tokenize → posexplode → **broadcast left-join** against the
    *   dictionary on the token's folded alphabetic core → mask matched
    *   tokens (punctuation survives: "Judy." → "[NAME].") → rebuild
    *   the document order-preservingly (array_sort over (pos, token)
    *   inside one groupBy) with per-doc match counts.
    *
    * No per-row UDF anywhere — matching is a BroadcastHashJoin (O(1)
    * probe per token regardless of dictionary size, where an inlined
    * regex alternation would be O(dict)), masking is codegen
    * regexp_replace, and the only shuffle is the per-doc rebuild whose
    * volume is the token count. The hash compare covers the full
    * redacted text. */
  val q78 = Q(
    "q78_name_scrub",
    "dictionary name masking via broadcast token join with per-doc match counts",
    (s, dir) => {
      import s.implicits._
      val nameArr = array(NameDict.map(lit): _*)
      val nm1 = element_at(nameArr, (col("doc_id") % 16 + 1).cast("int"))
      val nm2 = element_at(nameArr, ((col("doc_id") * 7 + 3) % 16 + 1).cast("int"))
      val cap1 = concat(upper(nm1.substr(lit(1), lit(1))), nm1.substr(lit(2), lit(50)))
      val composed = concat(substring(col("text"), 1, 60),
        lit(" met "), cap1, lit(" and "), nm2, lit(". Ask zork."))
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), composed.as("text"))
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "tok")
      val core = lower(regexp_replace(col("tok"), "[^a-zA-Z]", ""))
      toks.join(broadcast(NameDict.toDF("nm")), core === col("nm"), "left")
        .select(col("doc_id"), col("pos"),
          when(col("nm").isNotNull,
            regexp_replace(col("tok"), "[a-zA-Z]+", "[NAME]"))
            .otherwise(col("tok")).as("rtok"),
          col("nm").isNotNull.cast("long").as("hit"))
        .groupBy(col("doc_id"))
        .agg(
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("rtok")))),
            x => x("rtok")), " ").as("redacted"),
          sum(col("hit")).as("name_hits"))
        .orderBy(col("doc_id"))
    },
    Some {
      val d = NameDict.map(n => s"'$n'").mkString("[", ", ", "]")
      s"""WITH named AS (
        SELECT doc_id, text,
          ($d)[CAST(doc_id % 16 + 1 AS INT)] AS nm1,
          ($d)[CAST((doc_id * 7 + 3) % 16 + 1 AS INT)] AS nm2
        FROM documents),
      composed AS (
        SELECT doc_id,
          substring(text, 1, 60) || ' met ' ||
          upper(substring(nm1, 1, 1)) || substring(nm1, 2) ||
          ' and ' || nm2 || '. Ask zork.' AS text
        FROM named)
      SELECT doc_id,
        array_to_string(list_transform(string_split(text, ' '), tk ->
          CASE WHEN list_contains($d, lower(regexp_replace(tk, '[^a-zA-Z]', '', 'g')))
               THEN regexp_replace(tk, '[a-zA-Z]+', '[NAME]', 'g') ELSE tk END), ' ')
          AS redacted,
        CAST(len(list_filter(string_split(text, ' '), tk ->
          list_contains($d, lower(regexp_replace(tk, '[^a-zA-Z]', '', 'g'))))) AS BIGINT)
          AS name_hits
      FROM composed ORDER BY doc_id"""
    })

  private val SubStride = SpanLen / 2 // 5: windows OVERLAP, unlike q95's grid

  /** ExactSubstr-style SLIDING-window repeated-substring removal
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" §4.1 removes every repeated ≥50-token substring;
    * restated here over [[SpanLen]]-token windows at stride
    * [[SubStride]]): q95's fixed 10-token grid misses any repeated
    * span that STRADDLES a grid boundary — its two grid fragments
    * each carry unrelated neighbor tokens, so neither repeats (r9
    * VERDICT task 4, measured: 21 of sf0.01's 42 hot window
    * instances are off-grid). Overlapping windows at stride L/2
    * guarantee every repeated 2L-token run contains a fully-repeated
    * window, so its core tokens are caught regardless of alignment;
    * a window whose corpus-wide count exceeds [[Q95DfCap]] (q95's
    * threshold — one boilerplate definition) marks ALL its token
    * positions covered, covered tokens drop, survivors reassemble in
    * document order with q95's (n_kept, md5 fp) output shape.
    *
    * Scale shape: window-df is ONE exchange with map-side partial
    * counts (2× q95's row volume — the stride trade is explicit);
    * the df relation filters to hot windows BEFORE joining back, so
    * only boilerplate instances ship; per-doc hot START LISTS (not
    * exploded token positions) come back in one small aggregate, and
    * the drop itself is a PER-ROW interval filter over the token
    * array — no token-level shuffle anywhere, the q99 scan-shape
    * argument. Higher-order-function lambdas here are per-element
    * comparisons (no regex/md5 in the loop), below the regex-wall
    * threshold the JIT kernels exist for. */
  val q103 = Q(
    "q103_substr_dedup",
    s"ExactSubstr-style pass: $SpanLen-token windows at stride $SubStride, tokens covered by a window with corpus count > $Q95DfCap drop, reassemble",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
      val wins = graft.Scratch.cache(tok
        .select(col("doc_id"), posexplode(expr(
          s"""transform(
             |  sequence(0, cast(greatest(0, ceil((size(tk) - $SpanLen) / ${SubStride}.0)) as int)),
             |  i -> concat_ws(' ', slice(tk, i * $SubStride + 1, $SpanLen)))""".stripMargin)))
        .select(col("doc_id"), (col("pos") * SubStride).cast("long").as("start"),
          col("col").as("win")))
      val hot = wins.groupBy(col("win")).agg(count(lit(1)).as("df"))
        .where(col("df") > Q95DfCap)
      val hotStarts = wins.join(hot, "win")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("start"))).as("hs"))
      tok.join(hotStarts, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
          expr(s"""transform(
             |  filter(transform(tk, (x, i) -> named_struct('t', x, 'p', cast(i as bigint))),
             |    s -> hs IS NULL OR NOT exists(hs, st -> s.p >= st AND s.p < st + $SpanLen)),
             |  y -> y.t)""".stripMargin).as("kept"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("kept")).cast("long").as("n_kept"),
          when(size(col("kept")) === 0, lit(""))
            .otherwise(md5(concat_ws(" ", col("kept")))).as("fp"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS tk FROM documents),
      w AS (
        SELECT doc_id, len(tk) AS n, i * $SubStride AS start,
          array_to_string(list_slice(tk, i * $SubStride + 1, i * $SubStride + $SpanLen), ' ') AS win
        FROM (SELECT doc_id, tk,
                unnest(range(0, 1 + CAST(greatest(0,
                  ceil((len(tk) - $SpanLen) / ${SubStride}.0)) AS BIGINT))) AS i
              FROM tok)),
      hot AS (
        SELECT win FROM w GROUP BY win HAVING count(*) > $Q95DfCap),
      cov AS (
        SELECT DISTINCT doc_id, pos FROM (
          SELECT doc_id, unnest(range(start, least(start + $SpanLen, n))) AS pos
          FROM w JOIN hot USING (win))),
      tt AS (
        SELECT doc_id, i - 1 AS pos, tk[i] AS tok
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tok)),
      kept AS (
        SELECT tt.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          md5(string_agg(tok, ' ' ORDER BY tt.pos)) AS fp
        FROM tt LEFT JOIN cov ON tt.doc_id = cov.doc_id AND tt.pos = cov.pos
        WHERE cov.doc_id IS NULL
        GROUP BY tt.doc_id),
      tot AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tok)
      SELECT tot.doc_id AS doc_id, n_tokens,
        coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
        coalesce(fp, '') AS fp
      FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
      ORDER BY doc_id"""))

  /** Bloom-filter bit count for the REGISTERED q104 instance: 2^18
    * bits / k=2 positions per shingle. Sized so the FALSE-POSITIVE
    * path fires at the ORACLE scales (eval carries ~2.2k distinct
    * 8-gram shingles at sf0.001/sf0.01 → set-bit fraction ~1.7 %,
    * per-shingle FP ~2.9e-4, ~6 expected FP docs among ~456 train
    * docs of ~47 shingles each) — the FP arithmetic is exactly what
    * makes a Bloom gate nontrivial, so the driver's cross-engine
    * hash compare must exercise it, the q89-cap registration logic.
    * At sf0.1 the same m is deliberately PAST its design load (25k
    * eval shingles → fraction ~0.19, most train docs flag) — the
    * overload regime the production sizing formula exists to avoid:
    * a deployment sizes m ≈ 20 bits per eval shingle with k ≈ 14
    * (per-shingle FP ~7e-5, per-doc ~0.3 %), and both m and k are
    * plain parameters of [[bloomGateFor]]. */
  private val Q104M = 1L << 18
  private val Q104K = 2

  /** Distinct k-fold Bloom bit positions of a 60-bit shingle hash,
    * by double hashing (Kirsch–Mitzenmacher 2006: pos_j = (h1 + j·h2)
    * mod m): h1 = h mod m, h2 = 1 + (h >> 30) mod (m-1) — the high
    * 30 bits drive the stride, so h1/h2 are independent for m ≤ 2^30,
    * and h2 ≥ 1 keeps the k probes distinct mod m for k ≤ 2. All
    * non-negative integer arithmetic, so the DuckDB oracle recomputes
    * the SAME positions with `%` and `//`. */
  private[graft] def bloomPositions(h: Long, m: Long, k: Int): Array[Long] = {
    val h1 = h % m
    val h2 = 1L + ((h >> 30) % (m - 1))
    Array.tabulate(k)(j => (h1 + j * h2) % m)
  }

  /** Driver-side Bloom bitset over a single-column `h` relation of
    * 60-bit hashes: one word-grouped `bit_or` aggregation, collected
    * into a dense long array. The collect is bounded by the FILTER
    * SIZE m/64 words (a registration constant — 4 KiB·longs at the
    * registered 2^18), never by data volume: the bitset is the
    * device, and it must exist as one in-memory array to broadcast. */
  private[graft] def bloomBitset(evalHashes: org.apache.spark.sql.DataFrame,
      m: Long, k: Int): Array[Long] = {
    val words = new Array[Long]((m / 64).toInt)
    val posCols = (0 until k).map { j =>
      (col("h") % m + lit(j) * ((shiftright(col("h"), 30) % (m - 1)) + 1L)) % m
    }
    evalHashes
      .select(explode(array(posCols: _*)).as("pos"))
      .select(shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT))").as("bit"))
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("mask"))
      .collect()
      .foreach(r => words(r.getLong(0).toInt) |= r.getLong(1))
    words
  }

  /** JIT Bloom probe over a doc's distinct shingle-hash array: returns
    * the subset whose k positions are all set in the broadcast bitset.
    * Zero shuffle — the 100 TB side of the gate is this narrow map. */
  private def bloomProbeUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]], m: Long, k: Int) =
    udf { (hs: Seq[Long]) =>
      val words = bc.value
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      hs.foreach { h =>
        val ps = bloomPositions(h, m, k)
        var j = 0
        var hit = true
        while (hit && j < ps.length) {
          hit = ((words((ps(j) >> 6).toInt) >> (ps(j) & 63).toInt) & 1L) != 0L
          j += 1
        }
        if (hit) out += h
      }
      out.toSeq
    }

  /** BLOOM-GATE decontamination — the broadcast-membership answer to
    * q77/q89's distinct-hash JOIN, flagging the TRAIN docs that carry
    * an eval 8-gram (the docs a benchmark-honest pipeline DROPS; q77
    * reports the eval side). The eval split's distinct shingle hashes
    * fold into an m-bit Bloom bitset (driver-built, broadcast —
    * m/8 bytes regardless of corpus size); every train doc probes the
    * bitset in one narrow JIT pass, so the 100-TB train side incurs
    * ZERO shuffle — only bloom-HIT hashes (truth plus the measured FP
    * tail) enter the exact verify join, and exact ⊆ bloom-hit means
    * nothing else ever could. Output exposes BOTH stages per flagged
    * doc — n_bloom (filter hits), n_exact (true shared shingles),
    * bloom_fp — so the oracle's recomputation of the same bit
    * positions proves the FP arithmetic cross-engine, not just the
    * exact trim. No false negatives by construction (every position
    * of a present hash is set); BloomGateSpec pins the subset
    * invariants and a forced-FP instance. */
  def bloomGateFor(s: org.apache.spark.sql.SparkSession, dir: String,
      m: Long, k: Int,
      evalPred: Column = h60(concat(lit("split:"), col("doc_id"))) % 100 >= 90,
      trainPred: Column = h60(concat(lit("split:"), col("doc_id"))) % 100 < 90)
      : org.apache.spark.sql.DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), evalPred.as("ev"), trainPred.as("tr"),
        tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 8)
    val evalSh = base.where(col("ev"))
      .select(explode(shingleHashes8(col("toks"))).as("h")).distinct()
    val bc = s.sparkContext.broadcast(bloomBitset(evalSh, m, k))
    base.where(col("tr"))
      .select(col("doc_id"),
        bloomProbeUdf(bc, m, k)(shingleHashes8(col("toks"))).as("hits"))
      .where(size(col("hits")) > 0)
      .select(col("doc_id"), size(col("hits")).cast("long").as("n_bloom"),
        explode(col("hits")).as("h"))
      .join(evalSh.withColumn("em", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_bloom"))
      .agg(count(col("em")).as("n_exact"))
      .select(col("doc_id"), col("n_bloom"), col("n_exact"),
        (col("n_exact") === 0).as("bloom_fp"))
      .orderBy(col("doc_id"))
  }

  val q104 = Q(
    "q104_bloom_decontam",
    s"train docs flagged by a broadcast Bloom bitset (m=2^18, k=$Q104K) of eval 8-gram shingles; bloom hits exact-verified, FPs exposed",
    (s, dir) => bloomGateFor(s, dir, Q104M, Q104K),
    Some {
      val m = Q104M
      val posSql = (0 until Q104K).map { j =>
        s"SELECT (h % $m + $j * (1 + (h // 1073741824) % ${m - 1})) % $m AS pos FROM evalsh"
      }.mkString("\n          UNION ALL ")
      val joins = (0 until Q104K).map { j =>
        s"JOIN bits b$j ON b$j.pos = (tr.h % $m + $j * (1 + (tr.h // 1073741824) % ${m - 1})) % $m"
      }.mkString("\n          ")
      s"""WITH sh AS (
        SELECT doc_id, b,
          unnest(list_distinct(list_transform(range(1, len(toks) - 6),
            i -> ${oH60("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]")}))) AS h
        FROM (SELECT doc_id, ${oH60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b,
                string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      evalsh AS (SELECT DISTINCT h FROM sh WHERE b >= 90),
      bits AS (SELECT DISTINCT pos FROM (
          $posSql)),
      tr AS (SELECT doc_id, h FROM sh WHERE b < 90),
      hits AS (
        SELECT tr.doc_id, tr.h FROM tr
          $joins),
      bloom AS (SELECT doc_id, count(*) AS n_bloom FROM hits GROUP BY doc_id),
      ex AS (SELECT hits.doc_id, count(*) AS n_exact
             FROM hits JOIN evalsh e ON hits.h = e.h GROUP BY hits.doc_id)
      SELECT bloom.doc_id, n_bloom,
        coalesce(n_exact, CAST(0 AS BIGINT)) AS n_exact,
        coalesce(n_exact, 0) = 0 AS bloom_fp
      FROM bloom LEFT JOIN ex ON bloom.doc_id = ex.doc_id
      ORDER BY bloom.doc_id"""
    })

  val all: Seq[Q] = Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38,
    q74, q75, q76, q77, q78)
}
