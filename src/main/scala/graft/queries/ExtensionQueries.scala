package graft.queries

import graft.Tables
import graft.functions.Deterministic.davg
import graft.functions.TextAnalysis._
import graft.operators.Dedup
import graft.operators.Graph
import graft.storage.Scratch
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication extension pack over the `documents`
  * table (SURVEY.md §7.4 / BASELINE north star: the operators a
  * large-scale training-data pipeline needs). Each query has an exact
  * DuckDB oracle; all hashing is md5-derived so both engines compute
  * bit-identical signatures.
  */
object ExtensionQueries {

  /** SQL mirror of [[graft.functions.TextAnalysis.markerCount]]. */
  private def mcSql(w: String): String =
    s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) / ${w.length + 2} AS INT)"

  private val tokSql = s"len(string_split_regex(trim(text), '\\s+'))"

  /** Shared shingle CTE (distinct word 3-grams, with source carried). */
  private val shingleCte = """
    sh AS (
      SELECT DISTINCT doc_id, source,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
           UNNEST(range(1, len(t) - 1)) AS u(i))"""

  /** SQL mirror of [[Dedup.minhashSignatures]]: 8-hex-char slices of two
    * seeded md5 digests. */
  private def mhSql(i: Int): String =
    s"min(substr(md5('${i / 4}|' || shingle), ${(i % 4) * 8 + 1}, 8)) AS mh$i"

  private val sigCte =
    s"sig AS (SELECT doc_id, ${(0 until 8).map(mhSql).mkString(", ")} FROM sh GROUP BY doc_id)"

  /** SQL mirror of [[Dedup.simhash]] (64-bit): per-token 16-bit chunks
    * v0..v3 from md5 hex, per-bit sign sums, then the signature as a sum
    * of BIGINT bit terms — bit 63 is Long.MinValue, added last when the
    * positive partial sum is ≤ Long.MaxValue, so neither engine
    * overflows. */
  private val simhashCtes: String = {
    def chunk(c: Int) = (1 to 4).map(p =>
      s"(strpos('0123456789abcdef', substr(md5(w), ${4 * c + p}, 1)) - 1) * ${Seq(4096, 256, 16, 1)(p - 1)}")
      .mkString(" + ")
    val chunks = (0 until 4).map(c => s"${chunk(c)} AS v$c").mkString(",\n               ")
    val bitsums = (0 until 64).map(j =>
      s"SUM(CASE WHEN (v${j / 16} // ${1 << (j % 16)}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sig = (0 until 64).map {
      case 63 => "(CASE WHEN b63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END)"
      case j  => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""tok AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        tv AS (SELECT doc_id, $chunks FROM tok),
        bs AS (SELECT doc_id, $bitsums FROM tv GROUP BY doc_id),
        sg AS (SELECT doc_id, $sig AS simhash FROM bs)"""
  }

  lazy val all: Seq[Q] = coreQueries ++ moreQueries

  /** Shared pairing stage for the perceptual-hash dedup queries (m4
    * image, m5 audio): 4×16-bit band blocking over a (media_id, phash)
    * frame — an equi-join on band value, exact for hamming ≤ 3 by
    * pigeonhole — then bit_count(XOR) scoring of the candidates. Only
    * 8-byte hashes flow through the join; payloads stayed map-side in
    * the hashing stage. */
  private def bandedHashPairs(hashed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val banded = hashed.select(col("media_id"), col("phash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("phash"), b * 16).bitwiseAND(lit(0xFFFFL))
            .as("bv"))): _*)).as("bb"))
      .select(col("media_id"), col("phash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val lhs = banded.select(col("band"), col("bv"),
      col("media_id").as("id_a"), col("phash").as("ha"))
    val rhs = banded.select(col("band"), col("bv"),
      col("media_id").as("id_b"), col("phash").as("hb"))
    lhs.join(rhs, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "hb").distinct()
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("dist") <= 3)
      .withColumn("same_group",
        when(expr("id_a div 3") === expr("id_b div 3"), 1).otherwise(0))
      .select("id_a", "id_b", "dist", "same_group")
      .orderBy("id_a", "id_b")
  }

  private lazy val coreQueries: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // Token counting + quality scoring (length / word-shape / stopword
    // ratios as an additive scorecard — the reference's scorecard idiom,
    // bronze_to_silver_transformation.py:769-782, applied to documents).
    Q(
      "t1_text_stats",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            avgWordLen(col("text")).as("avg_word_len"),
            stopwordRatio(col("text")).as("stop_ratio"),
            qualityScore(col("text")).as("quality_score"))
          .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id,
               $tokSql AS n_tokens,
               CAST(length(replace(text, ' ', '')) AS DOUBLE) / $tokSql AS avg_word_len,
               CAST(${Seq("the", "a", "of", "to", "and").map(mcSql).mkString(" + ")} AS DOUBLE)
                 / $tokSql AS stop_ratio,
               GREATEST(LEAST(
                 (CASE WHEN $tokSql BETWEEN 10 AND 500 THEN 25 ELSE 0 END)
                 + (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / $tokSql
                      BETWEEN 2.0 AND 10.0 THEN 25 ELSE 0 END)
                 + (CASE WHEN CAST(${Seq("the", "a", "of", "to", "and").map(mcSql).mkString(" + ")} AS DOUBLE) / $tokSql
                      BETWEEN 0.01 AND 0.5 THEN 25 ELSE 10 END)
                 + (CASE WHEN NOT (contains(text, '<') OR contains(text, 'http'))
                      THEN 25 ELSE 0 END),
                 100), 0) AS quality_score
        FROM documents
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Token counting, three granularities: whitespace tokens, a BPE-ish
    // regex (letter runs / digit runs / single punctuation — the GPT-2
    // pretokenizer shape), and fixed-stride subword pieces.
    Q(
      "t4_regex_tokens",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("ws_tokens"),
            regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
              .as("bpe_tokens"),
            expr("""aggregate(transform(split(text, ' '),
                    w -> int(ceil(length(w) / 4.0))), 0, (a, x) -> a + x)""")
              .cast("long").as("subword_tokens"))
          .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id,
               $tokSql AS ws_tokens,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                 AS bpe_tokens,
               CAST(list_sum(list_transform(string_split(text, ' '),
                 w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT)
                 AS subword_tokens
        FROM documents
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Language ID: n-gram (function-word) heuristic, argmax with fixed
    // tie-break order.
    Q(
      "t2_lang_id",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            (col("doc_id") +:
              langMarkers.map { case (l, w) => markerCount(col("text"), w).as(s"c_$l") }) :+
              langId(col("text")).as("lang_pred"): _*)
          .orderBy("doc_id"),
      Some {
        val cnts = langMarkers.map { case (l, w) => s"${mcSql(w)} AS c_$l" }
        val langs = langMarkers.map(_._1)
        val arms = langs.dropRight(1).map { l =>
          val others = langs.filterNot(_ == l).map(o => s"c_$l >= c_$o").mkString(" AND ")
          s"WHEN $others THEN '$l'"
        }
        s"""
        SELECT doc_id, ${langs.map(l => s"c_$l").mkString(", ")},
               CASE ${arms.mkString(" ")} ELSE '${langs.last}' END AS lang_pred
        FROM (SELECT doc_id, ${cnts.mkString(", ")} FROM documents)
        ORDER BY doc_id"""
      }),

    // ----------------------------------------------------------------
    // Document fingerprint: md5 of whitespace-normalized lowercased text.
    Q(
      "t3_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            fingerprint(col("text")).as("fp"),
            length(trim(regexp_replace(col("text"), "\\s+", " "))).as("norm_len"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
               length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_len
        FROM documents
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // The curation PIPELINE, end to end — the composition a real
    // training-data run executes, stitched from the already-oracled
    // stages: quality gate (t1's additive scorecard ≥ 50) → repetition
    // gate (t15's duplicate-3-gram fraction ≤ 0.2; docs too short to
    // gram pass) → exact dedup (t3's fingerprint, min-id canonical) →
    // per-source audit (docs in/kept, token sum, mean quality of the
    // survivors). Every stage is narrow or one hash-agg; the dedup is
    // d1's digest groupBy. The oracle replays the whole chain.
    Q(
      "cp1_curation_pipeline",
      (s, d) => {
        import graft.functions.TextAnalysis._
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            tokenCount(col("text")).as("n_tokens"),
            qualityScore(col("text")).as("q"),
            ngramRepetition(col("text"), 3).as("r"))
        val gated = scored.filter(col("q") >= 50 &&
          (col("r.n_grams") === 0 ||
            lit(1.0) - col("r.n_distinct") / col("r.n_grams").cast("double")
              <= 0.2))
        val fp = gated.withColumn("fp", fingerprint(col("text")))
        val canonical = fp.groupBy("fp")
          .agg(min(col("doc_id")).as("doc_id"))
        val kept = fp.join(canonical, Seq("fp", "doc_id"))
        Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
          .join(kept.groupBy("source")
            .agg(count(lit(1)).as("n_kept"),
              sum(col("n_tokens")).as("tok_kept"),
              davg(col("q").cast("double")).as("avg_q")), Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("tok_kept"), lit(0L)).as("tok_kept"),
            round(coalesce(col("avg_q"), lit(0.0)), 6).as("avg_q"))
          .orderBy("source")
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, source, text,
                 $tokSql AS n_tokens,
                 GREATEST(LEAST(
                   (CASE WHEN $tokSql BETWEEN 10 AND 500 THEN 25 ELSE 0 END)
                   + (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / $tokSql
                        BETWEEN 2.0 AND 10.0 THEN 25 ELSE 0 END)
                   + (CASE WHEN CAST(${Seq("the", "a", "of", "to", "and").map(mcSql).mkString(" + ")} AS DOUBLE) / $tokSql
                        BETWEEN 0.01 AND 0.5 THEN 25 ELSE 10 END)
                   + (CASE WHEN NOT (contains(text, '<') OR contains(text, 'http'))
                        THEN 25 ELSE 0 END),
                   100), 0) AS q
          FROM documents),
        rep AS (
          SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams,
                 COUNT(*) AS n_distinct
          FROM (SELECT doc_id, gram, COUNT(*) AS n
                FROM (SELECT doc_id,
                             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
                      FROM (SELECT doc_id, string_split(text, ' ') AS t
                            FROM documents),
                           UNNEST(range(1, len(t) - 1)) AS u(i))
                GROUP BY 1, 2)
          GROUP BY 1),
        gated AS (
          SELECT s.*
          FROM scored s LEFT JOIN rep r USING (doc_id)
          WHERE s.q >= 50
            AND (r.doc_id IS NULL OR r.n_grams = 0
                 OR 1.0 - r.n_distinct / CAST(r.n_grams AS DOUBLE) <= 0.2)),
        fp AS (
          SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
          FROM gated),
        kept AS (
          SELECT fp.* FROM fp
          JOIN (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f) c
            USING (f, doc_id)),
        per AS (
          SELECT source, COUNT(*) AS n_kept,
                 CAST(SUM(n_tokens) AS BIGINT) AS tok_kept,
                 CAST(SUM(CAST(CAST(q AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(q) AS avg_q
          FROM kept GROUP BY source),
        base AS (SELECT source, COUNT(*) AS n_docs FROM documents
                 GROUP BY source)
        SELECT b.source, b.n_docs,
               COALESCE(per.n_kept, 0) AS n_kept,
               COALESCE(per.tok_kept, 0) AS tok_kept,
               round(COALESCE(per.avg_q, 0.0), 6) AS avg_q
        FROM base b LEFT JOIN per USING (source)
        ORDER BY source""")),

    // ----------------------------------------------------------------
    // The FULL training-data run (cp1 + the two stages a production
    // curation adds): quality gate → contamination EXCISION against the
    // held-out eval slice (train docs sharing ≥3 distinct 3-gram
    // shingles with the eval set are dropped — the Lee et al. /
    // GPT-3-appendix decontamination rule) → exact dedup → per-source
    // TOKEN-BUDGET selection (best-quality-first cumulative fill, the
    // t22 primitive applied inside the pipeline) → per-source audit.
    // Scale shape: the eval shingle set is tiny at any corpus size
    // (broadcast side of the excision semi-join); selection is one
    // window over kept docs per source; nothing quadratic anywhere.
    Q(
      "cp2_full_curation",
      (s, d) => {
        import graft.functions.TextAnalysis._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val bucket = expr(
          """(position(substr(md5(CAST(doc_id AS STRING)), 1, 1)
               IN '0123456789abcdef') - 1) * 16
           + (position(substr(md5(CAST(doc_id AS STRING)), 2, 1)
               IN '0123456789abcdef') - 1)""") % 100
        val train = docs.filter(bucket < 80)
        val eval_ = docs.filter(bucket >= 80)
        val scored = train
          .select(col("doc_id"), col("source"), col("text"),
            tokenCount(col("text")).as("n_tokens"),
            qualityScore(col("text")).as("q"))
          .filter(col("q") >= 50)
        // contamination: ≥3 distinct shingles shared with the eval SET
        val evalShingles = Dedup.shingles(eval_, "doc_id", "text")
          .select("shingle").distinct()
        val contaminated = Dedup.shingles(scored, "doc_id", "text")
          .join(broadcast(evalShingles), Seq("shingle"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .select("doc_id")
        val clean = scored.join(contaminated, Seq("doc_id"), "left_anti")
        // exact dedup, canonical = min doc_id per fingerprint
        val fp = clean.withColumn("fp", fingerprint(col("text")))
        val kept = fp.join(
          fp.groupBy("fp").agg(min(col("doc_id")).as("doc_id")),
          Seq("fp", "doc_id"))
        // token budget: best quality first (doc_id tiebreak), keep while
        // the running total stays within the per-source budget
        val w = Window.partitionBy("source")
          .orderBy(col("q").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val selected = kept
          .withColumn("cum_tok", sum(col("n_tokens")).over(w))
          .filter(col("cum_tok") <= 2000)
        docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .join(selected.groupBy("source")
            .agg(count(lit(1)).as("n_sel"),
              sum(col("n_tokens")).as("tok_sel"),
              davg(col("q").cast("double")).as("avg_q")),
            Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_sel"), lit(0L)).as("n_sel"),
            coalesce(col("tok_sel"), lit(0L)).as("tok_sel"),
            round(coalesce(col("avg_q"), lit(0.0)), 6).as("avg_q"))
          .orderBy("source")
      },
      Some(s"""
        WITH sp AS (
          SELECT doc_id, source, text,
                 ((strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1))
                   % 100 < 80 AS is_train
          FROM documents),
        scored AS (
          SELECT doc_id, source, text,
                 $tokSql AS n_tokens,
                 GREATEST(LEAST(
                   (CASE WHEN $tokSql BETWEEN 10 AND 500 THEN 25 ELSE 0 END)
                   + (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / $tokSql
                        BETWEEN 2.0 AND 10.0 THEN 25 ELSE 0 END)
                   + (CASE WHEN CAST(${Seq("the", "a", "of", "to", "and").map(mcSql).mkString(" + ")} AS DOUBLE) / $tokSql
                        BETWEEN 0.01 AND 0.5 THEN 25 ELSE 10 END)
                   + (CASE WHEN NOT (contains(text, '<') OR contains(text, 'http'))
                        THEN 25 ELSE 0 END),
                   100), 0) AS q
          FROM sp WHERE is_train),
        gated AS (SELECT * FROM scored WHERE q >= 50),
        esh AS (
          SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM (SELECT string_split(text, ' ') AS t FROM sp WHERE NOT is_train),
               UNNEST(range(1, len(t) - 1)) AS u(i)),
        tsh AS (
          SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM gated),
               UNNEST(range(1, len(t) - 1)) AS u(i)),
        contaminated AS (
          SELECT doc_id FROM tsh JOIN esh USING (shingle)
          GROUP BY doc_id HAVING COUNT(*) >= 3),
        clean AS (
          SELECT g.* FROM gated g
          WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        fp AS (
          SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
          FROM clean),
        kept AS (
          SELECT fp.* FROM fp
          JOIN (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f) c
            USING (f, doc_id)),
        sel AS (
          SELECT * FROM (
            SELECT *, SUM(n_tokens) OVER (PARTITION BY source
              ORDER BY q DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
            FROM kept)
          WHERE cum_tok <= 2000),
        per AS (
          SELECT source, COUNT(*) AS n_sel,
                 CAST(SUM(n_tokens) AS BIGINT) AS tok_sel,
                 CAST(SUM(CAST(CAST(q AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(q) AS avg_q
          FROM sel GROUP BY source),
        base AS (SELECT source, COUNT(*) AS n_docs FROM documents
                 GROUP BY source)
        SELECT b.source, b.n_docs,
               COALESCE(per.n_sel, 0) AS n_sel,
               COALESCE(per.tok_sel, 0) AS tok_sel,
               round(COALESCE(per.avg_q, 0.0), 6) AS avg_q
        FROM base b LEFT JOIN per USING (source)
        ORDER BY source""")),

    // ----------------------------------------------------------------
    // Cross-document duplicated SPANS (the substring-granular dedup of
    // Lee et al., "Deduplicating Training Data Makes Language Models
    // Better", at token-window resolution): fingerprint every 8-token
    // window, mark windows whose fingerprint occurs in ≥2 distinct
    // docs, report per-doc duplicated-window counts — the audit that
    // finds shared boilerplate/quotes INSIDE otherwise-unique docs,
    // which doc-level (d1/d2) and line-level (t21) dedup both miss.
    // Shape note for 100 TB: entirely explode + hash-agg + one
    // fp-equality join — window multiplicity never pairs docs against
    // each other, so a million-fold-duplicated span costs its row
    // count, not its row count squared. Complete audit: zero-dup docs
    // (and docs too short to window) stay in the output.
    Q(
      "t23_dup_spans",
      (s, d) => {
        val w = 8
        val wins = Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
          .select(col("doc_id"), explode_outer(expr(
            s"""CASE WHEN size(t) >= $w THEN
                  transform(sequence(0, size(t) - $w),
                            i -> md5(array_join(slice(t, i + 1, $w), ' ')))
                ELSE CAST(array() AS array<string>) END""")).as("fp"))
        val shared = wins.filter(col("fp").isNotNull)
          .groupBy("fp").agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("fp"), lit(1).as("is_dup"))
        wins.join(shared, Seq("fp"), "left")
          .groupBy("doc_id")
          .agg(count(col("fp")).as("n_windows"),
            coalesce(sum(col("is_dup")), lit(0L)).as("n_dup"))
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        wins AS (
          SELECT doc_id, md5(array_to_string(t[i+1:i+8], ' ')) AS fp
          FROM toks, UNNEST(range(0, greatest(len(t) - 7, 0))) AS u(i)),
        dupfp AS (
          SELECT fp FROM wins GROUP BY fp
          HAVING COUNT(DISTINCT doc_id) >= 2),
        per AS (
          SELECT w.doc_id, COUNT(*) AS n_windows, COUNT(d.fp) AS n_dup
          FROM wins w LEFT JOIN dupfp d USING (fp)
          GROUP BY w.doc_id)
        SELECT doc_id,
               COALESCE(n_windows, 0) AS n_windows,
               COALESCE(n_dup, 0) AS n_dup
        FROM documents LEFT JOIN per USING (doc_id)
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Reference-exact description cleaning
    // (utils/data_transformer.py:286-299): whitespace collapse, markdown
    // image/link strip (non-greedy), 500-char cap — over synthetic
    // markdown built from each document's own columns so badges, links,
    // tabs, and run-on spaces all appear.
    Q(
      "t10_clean_markdown",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            cleanDescription(concat(
              lit("  ![badge](https://img.shields.io/"), col("source"),
              lit(")\t intro  "), substring(col("text"), 1, 80),
              lit(" see [docs](https://docs.example/"), col("lang"),
              lit(") tail  "))).as("clean_desc"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               trim(substr(
                 regexp_replace(
                   regexp_replace(
                     trim(regexp_replace(
                       '  ![badge](https://img.shields.io/' || source || ')'
                         || chr(9) || ' intro  ' || substr(text, 1, 80)
                         || ' see [docs](https://docs.example/' || lang
                         || ') tail  ',
                       '\s+', ' ', 'g')),
                     '!\[.*?\]\(.*?\)', '', 'g'),
                   '\[.*?\]\(.*?\)', '', 'g'),
                 1, 500)) AS clean_desc
        FROM documents
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Binary media columns through the full gate (the oracled side of
    // [[graft.operators.Multimodal]]'s plumbing): deterministic variable
    // -length payloads built from md5 hex, carried as true BINARY
    // through parquet, with byte length, magic-prefix sniffing (from the
    // binary on the Spark side, from the hex construction in the
    // oracle), and a first-byte-derived media type. The raw BINARY never
    // reaches the output (the gate's row hash cannot sort bytes) —
    // instead `payload_md5` digests the binary after a hex round-trip,
    // so any corruption of the bytes themselves still breaks the hash.
    Q(
      "m1_media_metadata",
      (s, d) => {
        val header = md5(concat(lit("media|"), col("doc_id").cast("string")))
        val hexPayload = concat(header,
          expr("repeat(md5(text), CAST(doc_id % 5 + 1 AS INT))"))
        val firstByte = conv(substring(header, 1, 2), 16, 10).cast("int")
        val payload = unhex(hexPayload)
        Tables.documents(s, d)
          .select(col("doc_id"),
            md5(lower(hex(payload))).as("payload_md5"),
            length(payload).as("n_bytes"),
            hex(substring(payload, 1, 4)).as("magic"),
            when(firstByte % 3 === 0, "image/jpeg")
              .when(firstByte % 3 === 1, "image/png")
              .otherwise("video/webm").as("media_type"))
          .orderBy("doc_id")
      },
      Some("""
        WITH b AS (
          SELECT doc_id,
                 md5('media|' || CAST(doc_id AS VARCHAR)) AS hdr,
                 md5('media|' || CAST(doc_id AS VARCHAR))
                   || repeat(md5(text), CAST(doc_id % 5 + 1 AS INT)) AS hp
          FROM documents)
        SELECT doc_id,
               md5(lower(hex(from_hex(hp)))) AS payload_md5,
               octet_length(from_hex(hp)) AS n_bytes,
               upper(substr(hp, 1, 8)) AS magic,
               CASE ((strpos('0123456789abcdef', substr(hdr, 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(hdr, 2, 1)) - 1)) % 3
                 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
                 ELSE 'video/webm' END AS media_type
        FROM b
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // The multimodal DECODE path in the gate (m1 covers payload
    // plumbing; this covers the codecs): fakeMedia's real PNG / WAV /
    // MP4 payloads run through Multimodal.decode map-side, and each
    // row verifies the decoded properties against what the generator
    // wrote — image dims from actual pixels, audio rate/frames/
    // duration from actual PCM, video duration/display size from the
    // actual moov box. DuckDB cannot run codecs, but it predicts the
    // verdict frame exactly (a14's pattern): any decode drift flips a
    // row and the gate hash catches it.
    Q(
      "m2_decode_verdict",
      (s, _) => {
        val dec = graft.operators.Multimodal.decode(
          graft.operators.Multimodal.fakeMedia(s, 99)).toDF()
        val id = col("media_id")
        val ok = when(col("kind") === "image",
            col("width") === lit(64) + id % 8 * 32 &&
            col("height") === lit(64) + id % 5 * 48 &&
            col("mean_intensity") > 0 && col("mean_intensity") < 255)
          .when(col("kind") === "audio",
            col("sample_rate") === 8000 &&
            col("n_frames") === lit(400) + id % 64 * 50 &&
            abs(col("duration_sec") -
              (lit(400) + id % 64 * 50).cast("double") / 8000) < 1e-9)
          .otherwise(
            abs(col("duration_sec") -
              (lit(1000) + id % 60 * 250).cast("double") / 1000) < 1e-9 &&
            col("width") === lit(64) + id % 8 * 32 &&
            col("height") === lit(64) + id % 5 * 48)
        dec.select(id.as("media_id"), col("kind"),
            when(ok, 1).otherwise(0).as("ok"))
          .orderBy("media_id")
      },
      Some("""
        SELECT i AS media_id,
               CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image'
                 WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(1 AS INTEGER) AS ok
        FROM (SELECT unnest(generate_series(0, 98)) AS i)
        ORDER BY media_id""")),

    // ----------------------------------------------------------------
    // REAL video frame decode verdict: MJPEG-in-AVI corpus (every coded
    // frame a genuine baseline JPEG), decodeVideoFrames walks the RIFF
    // movi chunks and decodes real pixels. The query re-derives each
    // frame's encoded luminance from the same md5 the generator used
    // and asserts the decoded mean matches within JPEG DC-quantization
    // tolerance (±2); the oracle enumerates every expected frame and
    // predicts all-ok — a missing frame, wrong dimension, or drifted
    // decode breaks rows/hash.
    Q(
      "m3_frame_verdict",
      (s, _) => {
        val frames = graft.operators.Multimodal.decodeVideoFrames(
          graft.operators.Multimodal.fakeVideos(s, 60)).toDF()
        val i = col("media_id")
        val encLum = (lit(16) +
          conv(substring(md5(concat(lit("frame|"), i, lit("|"),
            col("frame_idx"))), 1, 2), 16, 10).cast("int") % 224)
        frames.select(i.as("media_id"), col("frame_idx"),
            when(col("frame_w") === lit(48) + i % 4 * 16 &&
              col("frame_h") === lit(32) + i % 3 * 16, 1).otherwise(0)
              .as("size_ok"),
            when(abs(col("mean_lum") - encLum) <= 2.0, 1).otherwise(0)
              .as("lum_ok"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""
        WITH ids AS (SELECT unnest(generate_series(0, 59)) AS media_id),
        fr AS (
          SELECT media_id,
                 CAST(unnest(generate_series(0, 2 + media_id % 5)) AS INTEGER)
                   AS frame_idx
          FROM ids)
        SELECT media_id, frame_idx,
               CAST(1 AS INTEGER) AS size_ok, CAST(1 AS INTEGER) AS lum_ok
        FROM fr
        ORDER BY media_id, frame_idx""")),

    // ----------------------------------------------------------------
    // Perceptual-hash image dedup (m4): the multimodal arm of the dedup
    // stack. Real PNGs → exact-integer aHash64 map-side (payload bytes
    // never shuffle — only the 8-byte hash does), then the SimHash
    // banding scheme (4×16-bit bands, equi-join on band value) pairs
    // candidates, exact for hamming ≤ 3 by pigeonhole; bit_count(XOR)
    // scores survivors. The corpus is 60 engineered triples (original /
    // +8 brightness / two inverted blocks) whose pairwise distances are
    // 0 and exactly 2 by construction, so DuckDB predicts the full pair
    // list: a codec drift, hash change, or banding bug flips rows and
    // the gate hash catches it.
    Q(
      "m4_phash_dedup",
      (s, _) => {
        import s.implicits._
        val media = graft.operators.Multimodal.fakeNearDupImages(s, 60)
        val hashed = media
          .map(r => (r.media_id, graft.operators.Multimodal.aHash64(r.bytes)))
          .toDF("media_id", "phash")
        bandedHashPairs(hashed)
      },
      Some("""
        WITH g AS (SELECT unnest(generate_series(0, 59)) AS g)
        SELECT * FROM (
          SELECT 3*g AS id_a, 3*g + 1 AS id_b,
                 CAST(0 AS INTEGER) AS dist, CAST(1 AS INTEGER) AS same_group
          FROM g
          UNION ALL
          SELECT 3*g, 3*g + 2, CAST(2 AS INTEGER), CAST(1 AS INTEGER) FROM g
          UNION ALL
          SELECT 3*g + 1, 3*g + 2, CAST(2 AS INTEGER), CAST(1 AS INTEGER)
          FROM g)
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // Audio fingerprint dedup (m5): m4's pairing stage over REAL
    // decoded PCM — 64-window energy fingerprint (exactly gain-
    // invariant by cross-multiplication), engineered triples (base /
    // exact x2 gain / two swapped windows) at distances 0 and exactly
    // 2, same 4x16 banding, same predicted pair list. Together m4+m5
    // make perceptual near-dup detection a cross-modal primitive: only
    // the hashing map stage knows the modality.
    Q(
      "m5_audio_dedup",
      (s, _) => {
        import s.implicits._
        val media = graft.operators.Multimodal.fakeNearDupAudio(s, 60)
        val hashed = media
          .map(r => (r.media_id,
            graft.operators.Multimodal.audioHash64(r.bytes)))
          .toDF("media_id", "phash")
        bandedHashPairs(hashed)
      },
      Some("""
        WITH g AS (SELECT unnest(generate_series(0, 59)) AS g)
        SELECT * FROM (
          SELECT 3*g AS id_a, 3*g + 1 AS id_b,
                 CAST(0 AS INTEGER) AS dist, CAST(1 AS INTEGER) AS same_group
          FROM g
          UNION ALL
          SELECT 3*g, 3*g + 2, CAST(2 AS INTEGER), CAST(1 AS INTEGER) FROM g
          UNION ALL
          SELECT 3*g + 1, 3*g + 2, CAST(2 AS INTEGER), CAST(1 AS INTEGER)
          FROM g)
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // REAL MP4 (ISO-BMFF) video frame decode verdict — the sibling of
    // m3's AVI path, through the spec's own sample-table machinery:
    // the corpus is MJPEG-in-MP4 (photo-JPEG samples located by real
    // stsd/stts/stsc/stsz/stco tables inside moov), decodeMp4Frames
    // resolves every coded sample from the tables and decodes real
    // pixels with the JDK codec. The query re-derives each frame's
    // encoded luminance from the same md5 the generator used and
    // asserts the decoded mean matches within JPEG DC-quantization
    // tolerance (±2); the oracle enumerates every expected frame and
    // predicts all-ok — a sample-table walk bug (wrong offset, size,
    // or chunk run) surfaces as missing/shifted frames and breaks
    // rows/hash. Non-JPEG codecs (H.264) remain honestly undecodable
    // in a JDK-only sandbox and keep the byte-stats fallback.
    Q(
      "m6_mp4_frame_verdict",
      (s, _) => {
        val frames = graft.operators.Multimodal.decodeMp4Frames(
          graft.operators.Multimodal.fakeMp4Videos(s, 60)).toDF()
        val i = col("media_id")
        val encLum = (lit(16) +
          conv(substring(md5(concat(lit("frame|"), i, lit("|"),
            col("frame_idx"))), 1, 2), 16, 10).cast("int") % 224)
        frames.select(i.as("media_id"), col("frame_idx"),
            when(col("frame_w") === lit(40) + i % 5 * 8 &&
              col("frame_h") === lit(24) + i % 4 * 8, 1).otherwise(0)
              .as("size_ok"),
            when(abs(col("mean_lum") - encLum) <= 2.0, 1).otherwise(0)
              .as("lum_ok"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""
        WITH ids AS (SELECT unnest(generate_series(0, 59)) AS media_id),
        fr AS (
          SELECT media_id,
                 CAST(unnest(generate_series(0, 1 + media_id % 6)) AS INTEGER)
                   AS frame_idx
          FROM ids)
        SELECT media_id, frame_idx,
               CAST(1 AS INTEGER) AS size_ok, CAST(1 AS INTEGER) AS lum_ok
        FROM fr
        ORDER BY media_id, frame_idx""")),

    // ----------------------------------------------------------------
    // BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterative
    // merge loop itself, not just the vocab count. Round 1 counts all
    // adjacent symbol pairs across the corpus (one explode + one
    // hash-agg); every later round is INCREMENTAL: a merge only changes
    // the pair multiset of documents containing the winning pair, so
    // the maintained counts frame absorbs a ±delta computed over the
    // affected docs alone — per-round cost drops from O(corpus) to
    // O(affected docs) + O(distinct pairs), which is what survives a
    // 100 TB corpus where one merge touches a sliver of documents.
    // Long-sum deltas are exact, so incremental counts are
    // indistinguishable from a full recount (the oracle IS the full
    // recount, replaying all 8 rounds as unrolled CTEs). The rewrite
    // itself also runs only on the affected side (contains prefilter,
    // union back); the replace takes the data-derived pair as a lit()
    // Column argument — corpus text is untrusted and never interpolated
    // into expression SQL. The merge table is the MODEL — k rows held
    // on the driver, like k-means centroids or Rank's boundaries.
    Q(
      "t24_bpe_merges",
      (s, d) => {
        val (merges, _) = bpeTrain(s, d, 8)
        import s.implicits._
        merges.toDF("rank", "pair", "n_pairs")
          .select(col("rank").cast("int").as("rank"), col("pair"),
            col("n_pairs"))
          .orderBy("rank")
      },
      Some(bpeMergesOracle(8))),

    // ----------------------------------------------------------------
    // BPE ENCODE — the apply side of t24's training loop: the corpus
    // rewritten under all k learned merges (train → encode is the full
    // tokenizer lifecycle a data pipeline runs; encoding cost per doc
    // is what the token-budget planners consume). Per doc: tokens after
    // merging and how many merged symbols were formed. The oracle
    // replays the identical k rounds and reads the final corpus state.
    Q(
      "t26_bpe_encode",
      (s, d) => {
        val (_, txt) = bpeTrain(s, d, 8)
        txt.select(col("doc_id"),
            size(split(trim(col("t")), " ")).as("n_tokens"),
            ((length(col("t")) -
              length(call_function("replace", col("t"), lit("@@"), lit("")))) / 2)
              .cast("int").as("n_merged"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH ${bpeOracleCtes(8)}
        SELECT doc_id,
               CAST(len(string_split(trim(t), ' ')) AS INTEGER) AS n_tokens,
               CAST((length(t) - length(replace(t, '@@', ''))) / 2 AS INTEGER)
                 AS n_merged
        FROM t8
        ORDER BY doc_id"""))
  )

  /** Shared BPE training loop (t24 trains, t26 encodes): returns the
    * merge table (the model) and the corpus rewritten under all k
    * merges. See the t24 comment block for the per-round design. */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int): (Seq[(Int, String, Long)], org.apache.spark.sql.DataFrame) = {
        // materialize the token array ONCE per row (a separate
        // projection), then index it — inlining `split` into every
        // subscript makes the pair scan O(tokens²) string work
        def pairCounts(df: org.apache.spark.sql.DataFrame) = df
          .select(split(trim(col("t")), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(expr(
            """transform(sequence(0, size(toks) - 2),
               i -> concat(toks[i], ' ', toks[i + 1]))""")).as("pair"))
        // ONE Spark job per round: the top-1 lookup is the only action,
        // and it materializes the lazily-checkpointed counts frame as a
        // side effect (localCheckpoint(eager=false) truncates the plan at
        // creation, computes on first use). The corpus rewrite is a
        // lazy replace layer — plan grows one node per round —
        // checkpointed every few rounds to bound recompute depth. Eager
        // per-round checkpoints of both frames would triple the job count
        // and, at this corpus size, the fixed job latency dominates.
        // (Durability note: see Dedup.scala — an optional reliable
        // checkpoint dir covers executor loss on real clusters.)
        // The maintained counts frame is distinct-pair-sized (hundreds
        // to low millions of rows at any corpus scale) — Loop.pinned
        // narrows the shuffle and drops AQE re-planning for the
        // training rounds; at 100 TB size spark.graft.loop.partitions
        // to the pair vocabulary.
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
        graft.spark.Loop.pinned(s) {
        var txt = Tables.documents(s, d)
          .select(col("doc_id"),
            concat(lit(" "), trim(col("text")), lit(" ")).as("t"))
          .localCheckpoint(true)
        var counts = pairCounts(txt)
          .groupBy("pair").agg(sum(lit(1L)).as("n"))
          .localCheckpoint(false) // round-0 full count, maintained from here
        for (r <- 1 to k) {
          val top = counts
            .orderBy(col("n").desc, col("pair"))
            .limit(1).head() // bounded: one (pair, count) — the model row
          val pair = top.getString(0)
          merges += ((r, pair, top.getLong(1)))
          val needle = lit(s" $pair ")
          val mergedTok = lit(s" ${pair.replace(" ", "@@")} ")
          // ±delta over affected docs only, in ONE codegen'd pass:
          // pair_delta nets each doc's post-merge pairs (+1) against its
          // pre-merge pairs (-1) inside a single custom expression (see
          // PairDeltaExpression.scala — the declarative zip_with/union
          // form cost more in per-round Catalyst planning than the
          // round's actual work). Exact Long arithmetic end to end.
          val delta = txt.filter(col("t").contains(needle))
            .select(explode(graft.functions.PairDelta.pairDelta(
              col("t"),
              call_function("replace", col("t"), needle, mergedTok))).as("pw"))
            .select(col("pw.pair").as("pair"), col("pw.n").as("n"))
          counts = counts.unionByName(delta)
            .groupBy("pair").agg(sum(col("n")).as("n"))
            .filter(col("n") > 0)
            .localCheckpoint(false)
          // Unguarded replace: a no-op on unaffected docs, and it keeps
          // the rewrite expression LINEAR in r — a when(contains, ...)
          // guard references t three times, so projection collapse makes
          // the analyzed tree grow 3^r and driver-side analysis dominates
          // the round. Periodic checkpoints bound the recompute depth.
          txt = txt.withColumn("t",
            call_function("replace", col("t"), needle, mergedTok))
          if (r % 4 == 0 && r < k) txt = txt.localCheckpoint(true)
        }
        (merges.toSeq, txt)
        }
  }

  /** DuckDB replay of the k training rounds as unrolled CTEs — shared
    * by the t24 (merge table) and t26 (encoded corpus) oracles. Yields
    * CTEs `t0..tk` (corpus state) and `m1..mk` (round winners). */
  private def bpeOracleCtes(k: Int): String = {
    // MATERIALIZED is load-bearing: each t_r references t_{r-1} plus two
    // scalar subqueries on m_r — inlined, DuckDB re-evaluates the chain
    // combinatorially (minutes at sf0.01; 0.2 s materialized)
    val stages = (1 to k).map { r =>
      s"""p$r AS MATERIALIZED (
            SELECT pair, COUNT(*) AS n
            FROM (SELECT s[i] || ' ' || s[i+1] AS pair
                  FROM (SELECT string_split(trim(t), ' ') AS s
                        FROM t${r - 1}),
                       UNNEST(range(1, len(s))) AS u(i))
            GROUP BY pair),
          m$r AS MATERIALIZED (
            SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
          t$r AS MATERIALIZED (
            SELECT doc_id,
                   replace(t, ' ' || (SELECT pair FROM m$r) || ' ',
                           ' ' || replace((SELECT pair FROM m$r), ' ', '@@')
                             || ' ') AS t
            FROM t${r - 1})"""
    }.mkString(",\n          ")
    s"""t0 AS MATERIALIZED (
          SELECT doc_id, ' ' || trim(text) || ' ' AS t FROM documents),
          $stages"""
  }

  private def bpeMergesOracle(k: Int): String = s"""
        WITH ${bpeOracleCtes(k)}
        ${(1 to k).map(r =>
          s"SELECT CAST($r AS INTEGER) AS rank, pair, n AS n_pairs FROM m$r")
        .mkString("\n        UNION ALL\n        ")}
        ORDER BY rank"""

  private lazy val moreQueries: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // Vocabulary build: top-k tokens by corpus frequency with document
    // frequency — the tokenizer-training / vocab-pruning primitive. One
    // explode + hash-agg (partial combine carries distinct tokens per
    // partition), min-frequency HAVING, then a total-ordered top-k that
    // plans as TakeOrderedAndProject — no global sort at scale.
    Q(
      "t11_vocab_topk",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n_total"),
            countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_total") >= 5)
          .orderBy(col("n_total").desc, col("token"))
          .limit(100),
      Some("""
        SELECT token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY token
        HAVING COUNT(*) >= 5
        ORDER BY n_total DESC, token
        LIMIT 100""")),

    // ----------------------------------------------------------------
    // Bigram language-model counts: corpus-wide (w1, w2) frequencies and
    // each head word's top-3 continuations — the n-gram LM / next-token
    // statistics primitive. One explode + hash-agg + per-head window.
    Q(
      "t13_bigram_lm",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val bigrams = toks.select(explode(expr(
          """transform(sequence(1, size(t) - 1),
               i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"""))
          .as("b"))
          .select(col("b.w1"), col("b.w2"))
        val counted = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
        counted
          .withColumn("rk", row_number().over(
            Window.partitionBy("w1").orderBy(col("n").desc, col("w2"))))
          .filter(col("rk") <= 3)
          .filter(col("n") >= 10)
          .orderBy("w1", "rk")
      },
      Some("""
        WITH b AS (
          SELECT t[i] AS w1, t[i+1] AS w2
          FROM (SELECT string_split(text, ' ') AS t FROM documents),
               UNNEST(range(1, len(t))) AS u(i)),
        c AS (SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY w1, w2),
        r AS (SELECT w1, w2, n,
                     ROW_NUMBER() OVER (PARTITION BY w1
                       ORDER BY n DESC, w2) AS rk
              FROM c)
        SELECT w1, w2, n, rk FROM r
        WHERE rk <= 3 AND n >= 10
        ORDER BY w1, rk""")),

    // ----------------------------------------------------------------
    // Document perplexity under the corpus bigram LM — the KenLM-style
    // quality filter every training pipeline runs: score each document
    // by its average negative log-likelihood under P(w2|w1) =
    // c(w1,w2)/c(w1) estimated from the same corpus, then filter or
    // weight on the score downstream. One explode feeds the LM counts
    // AND the scoring join (persisted); the LM probability is an exact
    // count ratio so both engines materialize the identical double;
    // per-bigram NLLs round to 6 dp (libm ln differs by ulps across
    // engines) and then sum EXACTLY in decimal so the per-doc average
    // is partition-order-independent. abs() not minus: p = 1 bigrams
    // would otherwise emit -0.0, which hashes differently from 0.0.
    Q(
      "t20_doc_perplexity",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val docBigrams = toks.select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(t) - 1),
               i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"""))
          .as("b"))
          .select(col("doc_id"), col("b.w1"), col("b.w2"))
          .persist()
        val pairCounts = docBigrams.groupBy("w1", "w2")
          .agg(count(lit(1)).as("n12"))
        val headCounts = docBigrams.groupBy("w1")
          .agg(count(lit(1)).as("n1"))
        val lm = pairCounts.join(headCounts, "w1")
          .select(col("w1"), col("w2"),
            (col("n12").cast("double") / col("n1")).as("p"))
        val dec = org.apache.spark.sql.types.DecimalType(28, 6)
        docBigrams.join(lm, Seq("w1", "w2"))
          .select(col("doc_id"), round(abs(log(col("p"))), 6).as("nll"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            (sum(col("nll").cast(dec)).cast("double") / count(lit(1)))
              .as("__avg"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("__avg"), 6).as("avg_nll"),
            round(exp(col("__avg")), 6).as("ppl"))
          .orderBy("doc_id")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, t[i] AS w1, t[i+1] AS w2
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               UNNEST(range(1, len(t))) AS u(i)),
        c AS (SELECT w1, w2, COUNT(*) AS n12 FROM b GROUP BY w1, w2),
        h AS (SELECT w1, COUNT(*) AS n1 FROM b GROUP BY w1),
        lm AS (SELECT c.w1, c.w2, CAST(n12 AS DOUBLE) / n1 AS p
               FROM c JOIN h ON c.w1 = h.w1),
        sc AS (
          SELECT doc_id, round(abs(ln(p)), 6) AS nll
          FROM b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2),
        ag AS (
          SELECT doc_id, COUNT(*) AS n_bigrams,
                 CAST(SUM(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                   AS avg_raw
          FROM sc GROUP BY doc_id)
        SELECT doc_id, n_bigrams,
               round(avg_raw, 6) AS avg_nll,
               round(exp(avg_raw), 6) AS ppl
        FROM ag
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Corpus-wide boilerplate line removal ([[graft.operators.LineDedup]]):
    // lines occurring verbatim in >= minDocFreq distinct documents are
    // dropped from every document, order preserved. The testdata's
    // documents are single-line, so the query builds 4-line documents by
    // wrapping each document's own text in two known boilerplate banners
    // (same synthetic-construction precedent as t10/m1) — the banners hit
    // df = n_docs and vanish; the per-document content substrings stay.
    Q(
      "t21_boilerplate_lines",
      (s, d) => {
        val synth = Tables.documents(s, d).select(col("doc_id"),
          concat(
            lit("GENERATED BY exporter v1 -- do not edit\n"),
            substring(col("text"), 1, 60), lit("\n"),
            lit("Copyright (c) 2024 Example Corp\n"),
            substring(col("text"), 61, 60)).as("text"))
        graft.operators.LineDedup
          .removeBoilerplateLines(synth, "doc_id", "text", minDocFreq = 50)
          .orderBy("doc_id")
      },
      Some("""
        WITH synth AS (
          SELECT doc_id,
                 'GENERATED BY exporter v1 -- do not edit' || chr(10)
                   || substr(text, 1, 60) || chr(10)
                   || 'Copyright (c) 2024 Example Corp' || chr(10)
                   || substr(text, 61, 60) AS text
          FROM documents),
        l AS (
          SELECT doc_id, ls[i] AS line, i AS pos
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM synth),
               UNNEST(range(1, len(ls) + 1)) AS u(i)),
        hot AS (
          SELECT line
          FROM (SELECT DISTINCT doc_id, line FROM l
                WHERE length(trim(line)) > 0)
          GROUP BY line HAVING COUNT(*) >= 50),
        f AS (
          SELECT l.doc_id, l.pos, l.line, (h.line IS NOT NULL) AS is_hot
          FROM l LEFT JOIN hot h ON l.line = h.line)
        SELECT doc_id,
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                 FILTER (WHERE NOT is_hot), '') AS clean_text,
               COUNT(*) FILTER (WHERE NOT is_hot) AS n_kept,
               COUNT(*) FILTER (WHERE is_hot) AS n_removed
        FROM f GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Sequence packing for training: global token cumsum over the doc_id
    // order (range-partitioned two-pass prefix sum — NO single-partition
    // window) and the concat-then-chunk bin each document starts in.
    Q(
      "t12_seq_packing",
      (s, d) =>
        graft.operators.Prefix.packSequences(
          Tables.documents(s, d)
            .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
          Seq("doc_id"), "n_tokens", capacity = 4096)
          .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, $tokSql AS n_tokens FROM documents),
        c AS (
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM t)
        SELECT doc_id, n_tokens, cum_tokens,
               (cum_tokens - n_tokens) // 4096 AS bin_id
        FROM c
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Overlapping context-window chunking (size=32 tokens, stride=24 —
    // consecutive chunks share 8 tokens): the embedding/context-window
    // prep step of an LLM pipeline. Pure narrow map (tokenize →
    // posexplode chunk indices → slice), zero shuffle — 100 TB chunks
    // at scan speed. Tokenization is the library-wide whitespace
    // convention, so SUM(n_tokens) reconciles with t1/t12 totals plus
    // the overlap.
    Q(
      "t27_chunk_windows",
      (s, d) =>
        graft.operators.Chunker.chunk(
          Tables.documents(s, d).select("doc_id", "text", "source"),
          "doc_id", "text", size = 32, stride = 24, carry = Seq("source"))
          .orderBy("doc_id", "chunk_id"),
      Some("""
        WITH t AS (
          SELECT doc_id, source,
                 string_split_regex(trim(text), '\s+') AS toks
          FROM documents),
        c AS (
          SELECT doc_id, source, toks,
                 unnest(generate_series(0,
                   CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT)))
                   AS chunk_id
          FROM t)
        SELECT doc_id, source, chunk_id, chunk_id * 24 AS start_tok,
               CAST(len(list_slice(toks, chunk_id * 24 + 1,
                 chunk_id * 24 + 32)) AS BIGINT) AS n_tokens,
               array_to_string(list_slice(toks, chunk_id * 24 + 1,
                 chunk_id * 24 + 32), ' ') AS chunk_text
        FROM c
        ORDER BY doc_id, chunk_id""")),

    // ----------------------------------------------------------------
    // Exact dedup on a duplicate-injected corpus: hash-groupBy on the
    // content digest, deterministic representative (min id). One shuffle;
    // partial agg means the shuffle carries distinct digests only.
    Q(
      "d1_dedup_exact",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dups = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
        Dedup.exactByDigest(docs.unionByName(dups), "doc_id", "text")
          .orderBy("rep_id")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        SELECT md5(text) AS digest, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
        FROM corpus
        GROUP BY md5(text)
        ORDER BY rep_id""")),

    // ----------------------------------------------------------------
    // N-gram Jaccard near-dup, blocked by `source` (the blocking key
    // bounds pair fan-out at scale — pairs only form inside a block).
    Q(
      "d2_dedup_jaccard",
      (s, d) => {
        // the shingle frame feeds the pair join twice + the size agg —
        // persist so the explode+distinct shuffle runs once
        val sh = Dedup.shingles(Tables.documents(s, d), "doc_id", "text",
          k = 3, carry = Seq("source")).persist()
        val a = sh.select(col("doc_id").as("id_a"), col("source"), col("shingle"))
        val b = sh.select(col("doc_id").as("id_b"), col("source"), col("shingle"))
        val pairs = a.join(b, Seq("source", "shingle"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        pairs
          .join(sz.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
          .join(sz.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
          .withColumn("jaccard", col("common") / (col("n_a") + col("n_b") - col("common")))
          .filter(col("jaccard") >= 0.05)
          .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH $shingleCte,
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pr AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.source = b.source
               AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b,
               common / (na.n + nb.n - common) AS jaccard
        FROM pr
        JOIN sz na ON id_a = na.doc_id
        JOIN sz nb ON id_b = nb.doc_id
        WHERE common / (na.n + nb.n - common) >= 0.05
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // MinHash signatures: 8 md5-seeded min-hashes over 3-gram shingles.
    Q(
      "d3_minhash_sigs",
      (s, d) =>
        // narrow form: whole signature as one map-side expression — no
        // shingle explode, no shuffle (equality with the aggregation
        // form is asserted in DedupSimilaritySpec)
        Dedup.minhashSignaturesNarrow(Tables.documents(s, d),
          "doc_id", "text", numHashes = 8)
          .orderBy("doc_id"),
      Some(s"""
        WITH $shingleCte
        SELECT doc_id, ${(0 until 8).map(mhSql).mkString(", ")}
        FROM sh
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // MinHash + LSH banding (4 bands × 2 rows): candidate pairs from
    // band-bucket collisions, then exact Jaccard verification on just
    // those candidates — the scale path for corpus-wide near-dup.
    Q(
      "d4_lsh_candidates",
      (s, d) => {
        // reused by signatures + pair verification + size agg; both
        // consumers (min-agg, collect_set) dedupe inherently, so the
        // distinct() shuffle is skipped
        val sh = Dedup.shingles(Tables.documents(s, d), "doc_id", "text",
          dedupe = false).persist()
        // narrow signatures (no sig shuffle); sh persists only for the
        // exact-Jaccard verification, which needs the shingle sets
        val sigs = Dedup.minhashSignaturesNarrow(Tables.documents(s, d),
          "doc_id", "text", numHashes = 8)
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBands(sigs, "doc_id", numHashes = 8, rowsPerBand = 2), "doc_id")
        Dedup.jaccardOnPairs(sh, "doc_id", pairs)
          .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH $shingleCte,
        $sigCte,
        bands AS (
          ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM sig")
            .mkString("\n          UNION ALL\n          ")}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        cm AS (
          SELECT id_a, id_b, COUNT(*) AS common
          FROM pairs
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
          GROUP BY 1, 2),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
        SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b,
               common / (na.n + nb.n - common) AS jaccard
        FROM cm
        JOIN sz na ON id_a = na.doc_id
        JOIN sz nb ON id_b = nb.doc_id
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // 64-bit SimHash over token multisets — integer sign-sum signature.
    Q(
      "d5_simhash",
      (s, d) =>
        // narrow form: one map-side expression, no explode/shuffle
        // (equality with the aggregation form spec-asserted)
        Dedup.simhashNarrow(Tables.documents(s, d), "doc_id", "text")
          .orderBy("doc_id"),
      Some(s"""
        WITH $simhashCtes
        SELECT doc_id, simhash FROM sg ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // SimHash near-dup candidates: exact 64-bit signature collisions
    // (hamming 0 degenerates to a full-signature equi-join). The oracle
    // verifies via the quadratic form — result sets are identical
    // because pigeonhole banding loses no qualifying pair.
    Q(
      "d6_simhash_pairs",
      (s, d) => {
        // narrow signature + persist: both sides of the bucket self-join
        // read the signature frame
        val sigs = Dedup.simhashNarrow(Tables.documents(s, d), "doc_id", "text")
          .persist()
        Dedup.simhashPairs(sigs, "doc_id", maxHamming = 0)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH $simhashCtes
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 0
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // SimHash near-dup pairs at radius 3 — the wider-radius form a
    // 16-bit signature could never discriminate (any two documents over
    // a shared vocabulary collide within a few bits of 16). With 64
    // bits, pigeonhole banding splits the signature into 4 × 16-bit
    // bands; a qualifying pair agrees exactly on ≥1 band, so candidate
    // generation stays an equi-join while radius-3 matches survive.
    Q(
      "d7_simhash_radius",
      (s, d) => {
        val sigs = Dedup.simhashNarrow(Tables.documents(s, d), "doc_id", "text")
          .persist()
        Dedup.simhashPairs(sigs, "doc_id", maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH $simhashCtes
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // Duplicate clusters: the full dedup endgame — MinHash/LSH candidate
    // pairs, exact-Jaccard verification (≥ 0.5), then connected
    // components so every document maps to its cluster representative
    // (min id; unpaired docs are singletons). The oracle replays the
    // whole pipeline and resolves components with a recursive CTE.
    Q(
      "d8_dedup_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sh = Dedup.shingles(docs, "doc_id", "text", dedupe = false)
          .persist()
        val sigs = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text",
          numHashes = 8)
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBands(sigs, "doc_id", numHashes = 8, rowsPerBand = 2),
          "doc_id")
        val verified = Dedup.jaccardOnPairs(sh, "doc_id", pairs)
          .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
        Graph.connectedComponents(docs.select("doc_id"), "doc_id", verified)
          .orderBy("doc_id")
      },
      Some(dedupClustersOracle)),

    // ----------------------------------------------------------------
    // The same cluster resolution through the ALTERNATE algorithm:
    // large-star/small-star (Kiveris et al.) — O(log n) rounds where
    // min-propagation needs O(diameter). Property tests pin the two
    // equal on random graphs; this gates the log-n path against the
    // recursive-CTE oracle on the real pipeline's edge set, so BOTH
    // cluster-resolution algorithms carry a green correctness entry.
    Q(
      "d13_dedup_clusters_star",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sh = Dedup.shingles(docs, "doc_id", "text", dedupe = false)
          .persist()
        val sigs = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text",
          numHashes = 8)
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBands(sigs, "doc_id", numHashes = 8, rowsPerBand = 2),
          "doc_id")
        val verified = Dedup.jaccardOnPairs(sh, "doc_id", pairs)
          .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
        Graph.connectedComponentsLogN(docs.select("doc_id"), "doc_id", verified)
          .orderBy("doc_id")
      },
      Some(dedupClustersOracle)),

    // ----------------------------------------------------------------
    // The dedup ENDGAME acting on d8's clusters: rewrite the corpus to
    // one canonical doc per cluster — keep the LONGEST version (min id
    // tiebreak), carry the cluster size for auditing. d1–d8 detect;
    // this is the step that actually shrinks the corpus.
    Q(
      "d9_dedup_rewrite",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sh = Dedup.shingles(docs, "doc_id", "text", dedupe = false)
          .persist()
        val sigs = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text",
          numHashes = 8)
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBands(sigs, "doc_id", numHashes = 8, rowsPerBand = 2),
          "doc_id")
        val verified = Dedup.jaccardOnPairs(sh, "doc_id", pairs)
          .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
        val clusters = Graph.connectedComponents(docs.select("doc_id"), "doc_id",
          verified)
        Dedup.keepCanonical(docs, "doc_id", clusters,
          Seq(col("n_chars").desc, col("doc_id")))
          .select("doc_id", "cluster_rep", "n_chars", "cluster_size")
          .orderBy("doc_id")
      },
      Some(dedupRewriteOracle)),

    // ----------------------------------------------------------------
    // Dedup-health HISTOGRAM over d8's clusters: how many clusters of
    // each size, and how many docs they hold — the audit a curation
    // run reads before deciding thresholds (a fat tail here means the
    // corpus is template-heavy; all-singletons means the thresholds
    // are too tight). Same resolution pipeline, one extra two-level
    // hash-agg; the frame is O(max cluster size), tiny at any scale.
    Q(
      "d12_cluster_histogram",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sh = Dedup.shingles(docs, "doc_id", "text", dedupe = false)
          .persist()
        val sigs = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text",
          numHashes = 8)
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBands(sigs, "doc_id", numHashes = 8, rowsPerBand = 2),
          "doc_id")
        val verified = Dedup.jaccardOnPairs(sh, "doc_id", pairs)
          .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
        Graph.connectedComponents(docs.select("doc_id"), "doc_id", verified)
          .groupBy("cluster_rep")
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("cluster_size")).as("n_docs"))
          .orderBy("cluster_size")
      },
      Some(dedupHistogramOracle)),

    // ----------------------------------------------------------------
    // Incremental dedup — the shape that actually runs at 100 TB: you
    // never re-dedup the corpus, you dedup the daily increment against
    // the persisted state (signature index + label table). Stage 1
    // builds that state for the 80% "corpus" split (standing in for
    // previous runs of this very pipeline); stage 2 runs the 20% batch
    // against it: batch-vs-index one-sided LSH candidates, batch-vs-
    // batch candidates, exact-Jaccard verification touching only
    // candidate corpus docs, then a mini-clustering over batch ids +
    // touched reps (bridge merges included). The rewrite over the
    // combined labels is asserted IDENTICAL to the full-corpus d9 —
    // the oracle is d9's verbatim.
    Q(
      "d10_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        // stage 1 — the persisted state (index + labels). The
        // production contract is that this state EXISTS from the
        // previous pipeline run (that is the whole point of
        // incremental dedup), so it lives in scratch parquet keyed by
        // the input dir's CONTENT fingerprint (path + every file's
        // size/mtime — graft.storage.Scratch): built once on first
        // touch, read — never recomputed — after, exactly as a daily
        // job reads yesterday's signature index; any input mutation
        // changes the key and forces a rebuild. The steady-state cost
        // of this query is stage 2 alone.
        val (stateDir, _) = Scratch.state("dedup_state", d) { stateDir =>
          val csh = Dedup.shingles(corpus, "doc_id", "text", dedupe = false)
            .persist()
          val csigs0 = Dedup.minhashSignaturesNarrow(corpus, "doc_id", "text",
            numHashes = 8).persist()
          val cpairs = Dedup.lshCandidatePairs(
            Dedup.lshBands(csigs0, "doc_id", numHashes = 8, rowsPerBand = 2),
            "doc_id")
          val cver = Dedup.jaccardOnPairs(csh, "doc_id", cpairs)
            .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
          val cclusters0 = Graph.connectedComponents(corpus.select("doc_id"),
            "doc_id", cver)
          csigs0.write.mode("overwrite").parquet(s"$stateDir/sigs")
          cclusters0.write.mode("overwrite").parquet(s"$stateDir/clusters")
          "ok"
        }
        val csigs = graft.storage.FooterSchema.parquet(s, s"$stateDir/sigs")
        val cclusters = graft.storage.FooterSchema.parquet(s, s"$stateDir/clusters")
        // stage 2 — the increment
        val labels = Dedup.incrementalDedup(csigs, cclusters, corpus, batch,
          "doc_id", "text")
        Dedup.keepCanonical(docs, "doc_id", labels,
          Seq(col("n_chars").desc, col("doc_id")))
          .select("doc_id", "cluster_rep", "n_chars", "cluster_size")
          .orderBy("doc_id")
      },
      Some(dedupRewriteOracle)),

    // ----------------------------------------------------------------
    // Cross-document EXACT substring dedup (Lee et al. 2022): every
    // 8-token span occurring at ≥2 (doc, pos) sites corpus-wide is
    // duplicated text; all but the globally-first occurrence are
    // merged into maximal islands. This catches the boilerplate /
    // license-header / quoted-chunk duplication whole-document
    // similarity (d1–d9) never sees and within-doc spans (t23) only
    // half-see. Per-doc audit: how many islands, how many tokens they
    // cover, what fraction of the doc is duplicated text. Two keyed
    // shuffles at any scale (hash-agg on the span md5 with map-side
    // combine; N:1 join back); see Dedup.crossDocDupSpans.
    Q(
      "d14_crossdoc_spans",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val stats = Dedup.crossDocDupSpans(docs, "doc_id", "text", n = 8)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("span_end") - col("span_start")).as("dup_tokens"))
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(stats, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            col("n_tokens"),
            round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
              / col("n_tokens"), 6).as("dup_frac"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $crossDocSpanCtes
        SELECT d.doc_id,
               COALESCE(g.n_spans, 0) AS n_spans,
               COALESCE(g.dup_tokens, 0) AS dup_tokens,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
               round(CAST(COALESCE(g.dup_tokens, 0) AS DOUBLE)
                 / len(string_split(d.text, ' ')), 6) AS dup_frac
        FROM documents d
        LEFT JOIN (SELECT doc_id, count(*) AS n_spans,
                          CAST(sum(span_end - span_start) AS BIGINT) AS dup_tokens
                   FROM islands GROUP BY doc_id) g USING (doc_id)
        ORDER BY d.doc_id""")),

    // ----------------------------------------------------------------
    // The REWRITE over d14's islands — the step that actually shrinks
    // the corpus: drop every token covered by a duplicated island,
    // reconstruct each document from its kept tokens. Gated on the
    // reconstructed text itself (md5) plus the kept-token count, so
    // the oracle verifies the byte-exact rewrite, not just the
    // bookkeeping. Islands explode to (doc, pos) rows (= dup_tokens
    // rows, corpus-bounded), so removal is a skew-safe left_anti
    // equi-join — never a range join.
    Q(
      "d15_crossdoc_rewrite",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val clean = Dedup.removeDupSpans(docs, "doc_id", "text", n = 8)
        docs.select(col("doc_id"))
          .join(clean, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_tokens_clean"), lit(0L)).as("n_tokens_clean"),
            md5(coalesce(col("text_clean"), lit(""))).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $crossDocSpanCtes,
        dpos AS (
          SELECT s.doc_id, s.span_start + u.j AS pos
          FROM islands s, UNNEST(range(0, s.span_end - s.span_start)) AS u(j)),
        tok AS (
          SELECT tk.doc_id, u.i AS pos, t[u.i] AS tok
          FROM tk, UNNEST(range(1, len(t) + 1)) AS u(i)),
        kept AS (
          SELECT k.doc_id, k.pos, k.tok FROM tok k
          WHERE NOT EXISTS (SELECT 1 FROM dpos p
                            WHERE p.doc_id = k.doc_id AND p.pos = k.pos)),
        res AS (
          SELECT doc_id, count(*) AS n_tokens_clean,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
          FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(r.n_tokens_clean, 0) AS n_tokens_clean,
               COALESCE(r.clean_md5, md5('')) AS clean_md5
        FROM documents d LEFT JOIN res r USING (doc_id)
        ORDER BY d.doc_id""")),

    // ----------------------------------------------------------------
    // Containment near-dup pairs (d16): the ASYMMETRIC overlap measure
    // C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)|. Jaccard misses subset dups —
    // a short doc fully quoted inside a long one scores low Jaccard but
    // containment 1.0 — and subset dups (quoted reposts, boilerplate-
    // wrapped copies) are a distinct failure mode a corpus dedup pass
    // must catch. Evidence join is df-capped: shingles appearing in >64
    // docs are boilerplate whose (df²) join fan-out would dominate the
    // shuffle while adding no pair-specific evidence; denominators stay
    // exact (per-doc distinct shingle counts are uncapped), so capped
    // containment is a lower bound that only suppresses pure-boilerplate
    // pairs. The oracle mirrors the cap exactly.
    Q(
      "d16_containment",
      (s, d) => {
        val sh = Dedup.shingles(Tables.documents(s, d), "doc_id", "text",
          k = 3, carry = Seq.empty).persist()
        val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        // persisted: cold feeds BOTH sides of the pair self-join below,
        // which would otherwise run the df-count join twice
        val cold = sh.join(dfc.filter(col("df") <= 64), "shingle")
          .select("doc_id", "shingle").persist()
        val pairs = cold.select(col("doc_id").as("id_a"), col("shingle"))
          .join(cold.select(col("doc_id").as("id_b"), col("shingle")), "shingle")
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        pairs
          .join(sz.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
          .join(sz.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
          .withColumn("cont_a", col("common") / col("n_a"))
          .withColumn("cont_b", col("common") / col("n_b"))
          .filter(greatest(col("cont_a"), col("cont_b")) >= 0.5)
          .select("id_a", "id_b", "common", "n_a", "n_b", "cont_a", "cont_b")
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH $shingleCte,
        dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
        cold AS (
          SELECT s.doc_id, s.shingle
          FROM sh s JOIN dfc ON s.shingle = dfc.shingle
          WHERE dfc.df <= 64),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        pr AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
          FROM cold a JOIN cold b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b,
               common / na.n AS cont_a, common / nb.n AS cont_b
        FROM pr
        JOIN sz na ON id_a = na.doc_id
        JOIN sz nb ON id_b = nb.doc_id
        WHERE GREATEST(common / na.n, common / nb.n) >= 0.5
        ORDER BY id_a, id_b"""))
  )

  /** Shared CTE chain for d14/d15: 8-token windows carried as md5,
    * first-occurrence resolution over the packed (doc·2²⁰ + pos) key,
    * non-first occurrences merged into islands by the running-max-end
    * gaps-and-islands form — the SQL mirror of
    * [[Dedup.crossDocDupSpans]]. */
  private lazy val crossDocSpanCtes: String = """
        tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        win AS (
          SELECT doc_id, u.i AS span_start, u.i + 8 AS span_end,
                 md5(array_to_string(t[u.i:u.i+7], ' ')) AS h
          FROM tk, UNNEST(range(1, len(t) - 6)) AS u(i)),
        firsts AS (
          SELECT h, min(doc_id * 1048576 + span_start) AS first_k
          FROM win GROUP BY h HAVING count(*) >= 2),
        dups AS (
          SELECT w.doc_id, w.span_start, w.span_end
          FROM win w JOIN firsts f USING (h)
          WHERE w.doc_id * 1048576 + w.span_start <> f.first_k),
        i0 AS (
          SELECT doc_id, span_start, span_end,
                 max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM dups),
        i1 AS (SELECT *, CASE WHEN prev_end IS NULL OR span_start > prev_end
                 THEN 1 ELSE 0 END AS nw FROM i0),
        i2 AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY span_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i1),
        islands AS (
          SELECT doc_id, isl, min(span_start) AS span_start,
                 max(span_end) AS span_end
          FROM i2 GROUP BY doc_id, isl)"""

  /** Shared oracle for d8/d13: cluster labels via a recursive CTE —
    * algorithm-independent, so it gates both min-propagation and
    * large-star/small-star. */
  private lazy val dedupClustersOracle: String = s"""
        WITH RECURSIVE $shingleCte,
        $sigCte,
        bands AS (
          ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM sig")
            .mkString("\n          UNION ALL\n          ")}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        cm AS (
          SELECT id_a, id_b, COUNT(*) AS common
          FROM pairs
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
          GROUP BY 1, 2),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        verified AS (
          SELECT id_a, id_b
          FROM cm
          JOIN sz na ON id_a = na.doc_id
          JOIN sz nb ON id_b = nb.doc_id
          WHERE common / (na.n + nb.n - common) >= 0.5),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM verified),
        walk AS (
          SELECT doc_id AS id, doc_id AS label FROM documents
          UNION
          SELECT e.src AS id, w.label FROM edges e JOIN walk w ON w.id = e.dst)
        SELECT id AS doc_id, MIN(label) AS cluster_rep
        FROM walk
        GROUP BY id
        ORDER BY doc_id"""

  /** Shared oracle for d9/d10: the incremental composition is exact, so
    * the full-corpus rewrite SQL gates both. */
  private lazy val dedupRewriteOracle: String = s"""
        WITH RECURSIVE $shingleCte,
        $sigCte,
        bands AS (
          ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM sig")
            .mkString("\n          UNION ALL\n          ")}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        cm AS (
          SELECT id_a, id_b, COUNT(*) AS common
          FROM pairs
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
          GROUP BY 1, 2),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        verified AS (
          SELECT id_a, id_b
          FROM cm
          JOIN sz na ON id_a = na.doc_id
          JOIN sz nb ON id_b = nb.doc_id
          WHERE common / (na.n + nb.n - common) >= 0.5),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM verified),
        walk AS (
          SELECT doc_id AS id, doc_id AS label FROM documents
          UNION
          SELECT e.src AS id, w.label FROM edges e JOIN walk w ON w.id = e.dst),
        cl AS (
          SELECT id AS doc_id, MIN(label) AS cluster_rep
          FROM walk GROUP BY id),
        ranked AS (
          SELECT cl.doc_id, cl.cluster_rep, d.n_chars,
                 ROW_NUMBER() OVER (PARTITION BY cl.cluster_rep
                   ORDER BY d.n_chars DESC, cl.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY cl.cluster_rep) AS cluster_size
          FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
        SELECT doc_id, cluster_rep, n_chars, cluster_size
        FROM ranked WHERE rn = 1
        ORDER BY doc_id"""

  /** d12's oracle: the same cluster resolution, aggregated into the
    * cluster-size histogram (the dedup-health audit view). */
  private lazy val dedupHistogramOracle: String = {
    val prefix = dedupRewriteOracle.substring(0,
      dedupRewriteOracle.indexOf("ranked AS"))
    s"""${prefix}per AS (
          SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM cl GROUP BY cluster_rep)
        SELECT cluster_size,
               COUNT(*) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        FROM per
        GROUP BY cluster_size
        ORDER BY cluster_size"""
  }
}
