package graft.queries

import graft.ops.{BpeTrainer, CorpusStats, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.ExtendedQueries.{thirds, writeLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the training-data-pipeline operators:
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding),
  * similarity search (brute-force + SRP-LSH ANN), text analysis, and
  * multimodal plumbing. Several DuckDB oracles are program-generated
  * (simhash bit sums, SRP plane dots) — the SQL is long but exactly the
  * same deterministic md5-derived arithmetic the Spark operators use.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")

  // shared oracle fragments ------------------------------------------------

  /** word-3gram distinct shingles per doc (documents table) */
  private[queries] val shingleCte =
    """tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |  FROM tok WHERE len(tk) >= 3)""".stripMargin

  private[queries] def h60sql(arg: String) =
    s"CAST('0x' || substr(md5($arg), 1, 15) AS BIGINT)"

  /** Shared by d15 (batch span dedup) and s12 (its stream twin over the
    * seen-k-gram state): the stream cut must equal the batch cover mask
    * exactly, so they share ONE oracle statement. */
  private val d15OracleSql = {
    val k = 8
    val gram = (0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH base AS (
       |  SELECT a.doc_id, a.text || ' ' || b.text AS text
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
       |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM base),
       |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
       |          i -> {'pos': i, 'h': ${h60sql(gram)}})) AS u
       |        FROM tok WHERE len(tk) >= $k),
       |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
       |rk AS (SELECT doc_id, pos,
       |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS r FROM kg),
       |dup AS (SELECT doc_id, pos FROM rk WHERE r > 1),
       |tks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)),
       |          i -> {'j': i, 'w': tk[i]})) AS u FROM tok),
       |toks AS (SELECT doc_id, u.j AS j, u.w AS w FROM tks),
       |rem AS (SELECT DISTINCT t.doc_id, t.j FROM toks t JOIN dup d
       |        ON d.doc_id = t.doc_id AND t.j >= d.pos AND t.j <= d.pos + ${k - 1}),
       |agg AS (
       |  SELECT t.doc_id,
       |    count(*) AS n_tokens,
       |    count(r.j) AS n_removed,
       |    coalesce(string_agg(t.w, ' ' ORDER BY t.j) FILTER (WHERE r.j IS NULL), '')
       |      AS clean_text
       |  FROM toks t LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.j = t.j
       |  GROUP BY t.doc_id)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_removed AS BIGINT) AS n_removed, clean_text
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** d30, the char-granular twin of [[d15OracleSql]]: positions are
    * 1-based CHAR indices into the whitespace-normalized text, the
    * keep-first rule and cover mask are identical, and the rebuild
    * concatenates surviving chars with no separator. */
  private val d30OracleSql = {
    val k = 25
    s"""WITH base AS (
       |  SELECT a.doc_id, a.text || ' ' || b.text AS text
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
       |nt AS (SELECT doc_id,
       |         array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ') AS t
       |       FROM base),
       |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |          i -> {'pos': i, 'h': ${h60sql(s"substr(t, i, $k)")}})) AS u
       |        FROM nt WHERE length(t) >= $k),
       |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
       |rk AS (SELECT doc_id, pos,
       |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS r FROM kg),
       |dup AS (SELECT doc_id, pos FROM rk WHERE r > 1),
       |chs AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t)),
       |          i -> {'j': i, 'c': substr(t, i, 1)})) AS u FROM nt),
       |ch AS (SELECT doc_id, u.j AS j, u.c AS c FROM chs),
       |rem AS (SELECT DISTINCT c.doc_id, c.j FROM ch c JOIN dup d
       |        ON d.doc_id = c.doc_id AND c.j >= d.pos AND c.j <= d.pos + ${k - 1}),
       |agg AS (
       |  SELECT c.doc_id,
       |    count(r.j) AS n_removed,
       |    coalesce(string_agg(c.c, '' ORDER BY c.j) FILTER (WHERE r.j IS NULL), '')
       |      AS clean_text
       |  FROM ch c LEFT JOIN rem r ON r.doc_id = c.doc_id AND r.j = c.j
       |  GROUP BY c.doc_id)
       |SELECT nt.doc_id, CAST(length(nt.t) AS BIGINT) AS n_chars,
       |  CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed,
       |  coalesce(agg.clean_text, '') AS clean_text
       |FROM nt LEFT JOIN agg ON agg.doc_id = nt.doc_id
       |ORDER BY nt.doc_id""".stripMargin
  }

  /** Shared by d31 (batch char-granular decontamination) and s40 (its
    * streaming admission twin over the frozen benchmark set): corpus =
    * the raw documents; benchmark = a 120-char mid-document fragment of
    * every 37th doc (sub-document overlap — the OCR'd-benchmark shape
    * token decontamination can't see). INDEPENDENT formulation: the
    * oracle joins the literal 25-char substrings by string equality
    * where Spark binary-searches md5-60 hashes. */
  private val d31OracleSql = {
    val k = 25
    s"""WITH nt AS (SELECT doc_id,
       |         array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ') AS t
       |       FROM documents),
       |nb AS (SELECT array_to_string(regexp_split_to_array(trim(substr(text, 40, 120)), '\\s+'), ' ') AS t
       |       FROM documents WHERE doc_id % 37 = 0),
       |bg AS (SELECT DISTINCT unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |         i -> substr(t, i, $k))) AS g
       |       FROM nb WHERE length(t) >= $k),
       |cg AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |         i -> substr(t, i, $k))) AS g
       |       FROM nt WHERE length(t) >= $k),
       |hits AS (SELECT doc_id, count(*) AS n_hits FROM cg JOIN bg USING (g)
       |         GROUP BY doc_id)
       |SELECT nt.doc_id,
       |  CAST(greatest(length(nt.t) - ${k - 1}, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  coalesce(h.n_hits, 0) > 0 AS contaminated
       |FROM nt LEFT JOIN hits h ON h.doc_id = nt.doc_id
       |ORDER BY nt.doc_id""".stripMargin
  }

  /** d32: the per-benchmark-item census — the same literal-substring
    * frame as [[d31OracleSql]] but with the fragment's source doc_id
    * kept as the bench item id and the aggregation INVERTED onto it;
    * the `pairs` CTE (doc × item × shared-window count) is the
    * independent restatement of Spark's CSR-probe LongMap. */
  private val d32OracleSql = {
    val k = 25
    s"""WITH nt AS (SELECT doc_id,
       |         array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ') AS t
       |       FROM documents),
       |nb AS (SELECT doc_id AS bench_id,
       |         array_to_string(regexp_split_to_array(trim(substr(text, 40, 120)), '\\s+'), ' ') AS t
       |       FROM documents WHERE doc_id % 37 = 0),
       |bg AS (SELECT DISTINCT bench_id,
       |         unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |           i -> substr(t, i, $k))) AS g
       |       FROM nb WHERE length(t) >= $k),
       |cg AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |         i -> substr(t, i, $k))) AS g
       |       FROM nt WHERE length(t) >= $k),
       |pairs AS (SELECT cg.doc_id, bg.bench_id, count(*) AS shared_windows
       |          FROM cg JOIN bg USING (g) GROUP BY 1, 2)
       |SELECT nb.bench_id,
       |  CAST(count(p.doc_id) AS BIGINT) AS n_contaminated_docs,
       |  CAST(coalesce(sum(p.shared_windows), 0) AS BIGINT) AS shared_windows,
       |  CAST(coalesce(max(p.shared_windows), 0) AS BIGINT) AS max_shared_windows
       |FROM nb LEFT JOIN pairs p ON p.bench_id = nb.bench_id
       |GROUP BY nb.bench_id
       |ORDER BY nb.bench_id""".stripMargin
  }

  /** d33: surgical char-granular decontamination — d30's cover-mask
    * rebuild CTEs with the cut set swapped from "non-first global
    * occurrence" to "window's literal substring appears in the
    * benchmark gram set" (the d31 frame). Shared verbatim by the
    * streaming twin s42 (static benchmark set → order-independent). */
  private val d33OracleSql = {
    val k = 25
    s"""WITH nt AS (SELECT doc_id,
       |         array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ') AS t
       |       FROM documents),
       |nb AS (SELECT array_to_string(regexp_split_to_array(trim(substr(text, 40, 120)), '\\s+'), ' ') AS t
       |       FROM documents WHERE doc_id % 37 = 0),
       |bg AS (SELECT DISTINCT unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |         i -> substr(t, i, $k))) AS g
       |       FROM nb WHERE length(t) >= $k),
       |cgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |          i -> {'pos': i, 'g': substr(t, i, $k)})) AS u
       |        FROM nt WHERE length(t) >= $k),
       |cut AS (SELECT c.doc_id, c.u.pos AS pos FROM cgs c JOIN bg ON bg.g = c.u.g),
       |chs AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t)),
       |          i -> {'j': i, 'c': substr(t, i, 1)})) AS u FROM nt),
       |ch AS (SELECT doc_id, u.j AS j, u.c AS c FROM chs),
       |rem AS (SELECT DISTINCT c.doc_id, c.j FROM ch c JOIN cut d
       |        ON d.doc_id = c.doc_id AND c.j >= d.pos AND c.j <= d.pos + ${k - 1}),
       |agg AS (
       |  SELECT c.doc_id,
       |    count(r.j) AS n_removed,
       |    coalesce(string_agg(c.c, '' ORDER BY c.j) FILTER (WHERE r.j IS NULL), '')
       |      AS clean_text
       |  FROM ch c LEFT JOIN rem r ON r.doc_id = c.doc_id AND r.j = c.j
       |  GROUP BY c.doc_id)
       |SELECT nt.doc_id, CAST(length(nt.t) AS BIGINT) AS n_chars,
       |  CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed,
       |  coalesce(agg.clean_text, '') AS clean_text
       |FROM nt LEFT JOIN agg ON agg.doc_id = nt.doc_id
       |ORDER BY nt.doc_id""".stripMargin
  }

  /** Shared by t15 (batch NB quality classifier) and s14 (its streaming
    * admission-gate twin over a frozen model): both replay the full
    * train+score — seed labeling, Laplace-smoothed per-token class
    * likelihoods quantized to the 10⁻⁶ grid, exact integer log-odds sum
    * plus prior — ending in an `nb` CTE of (doc_id, n_tokens, score_q). */
  /** Shared by t31 (batch) and s33 (streaming fold of the same bands):
    * nb scores joined back to the gold seed labels, banded on the
    * shifted nonnegative grid (floor ≡ trunc division there). */
  private lazy val t31OracleSql: String =
    s"""WITH $nbQualityCtes,
       |lab31 AS (
       |  SELECT doc_id, (source = 'src0') AS lab FROM documents
       |  WHERE source = 'src0' OR doc_id % 3 = 0),
       |b31 AS (
       |  SELECT (least(greatest(score_q, -1000000), 999999) + 1000000) // 200000 AS bin,
       |    lab
       |  FROM nb JOIN lab31 USING (doc_id))
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST((sum(CASE WHEN lab THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS pos_ppm
       |FROM b31 GROUP BY bin ORDER BY bin""".stripMargin

  private[queries] val nbQualityCtes: String =
    """d AS (SELECT doc_id, text, source FROM documents
      |       WHERE length(trim(text)) > 0),
      |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |        FROM d),
      |tf AS (SELECT doc_id, w, count(*) AS m FROM tok GROUP BY 1, 2),
      |seed AS (SELECT doc_id, (source = 'src0') AS lab FROM documents
      |         WHERE source = 'src0' OR doc_id % 3 = 0),
      |st AS (SELECT tf.w,
      |         sum(CASE WHEN lab THEN m ELSE 0 END) AS cpos,
      |         sum(CASE WHEN NOT lab THEN m ELSE 0 END) AS cneg
      |       FROM tf JOIN seed USING (doc_id) GROUP BY 1),
      |sc AS (SELECT sum(cpos) AS tpos, sum(cneg) AS tneg, count(*) AS v FROM st),
      |pri AS (SELECT sum(CASE WHEN lab THEN 1 ELSE 0 END) AS npos,
      |               sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS nneg FROM seed),
      |scored AS (
      |  SELECT tf.doc_id, tf.m,
      |    coalesce(CAST(round(ln((st.cpos + 1)::DOUBLE / (sc.tpos + sc.v)) * 1000000) AS BIGINT),
      |             CAST(round(ln(1.0 / (sc.tpos + sc.v)) * 1000000) AS BIGINT)) AS lp,
      |    coalesce(CAST(round(ln((st.cneg + 1)::DOUBLE / (sc.tneg + sc.v)) * 1000000) AS BIGINT),
      |             CAST(round(ln(1.0 / (sc.tneg + sc.v)) * 1000000) AS BIGINT)) AS ln_
      |  FROM tf LEFT JOIN st USING (w) CROSS JOIN sc),
      |nb AS (
      |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
      |    CAST(sum(m * (lp - ln_)) + round(ln(npos::DOUBLE / nneg) * 1000000) AS BIGINT) AS score_q
      |  FROM scored CROSS JOIN pri
      |  GROUP BY doc_id, npos, nneg)""".stripMargin

  /** Shared by t16 (batch DSIR importance weights), p26 (Gumbel-top-k
    * resampling) and s15 (the streaming admission twin over a frozen
    * model): fit hashed-unigram+bigram bucket distributions on the target
    * (source 'src0') and raw (doc_id % 3 = 1) seeds, Laplace-smoothed over
    * the fixed 1024-bucket feature space, each bucket log-likelihood
    * quantized to the 10⁻⁶ grid — ending in a `dsir` CTE of
    * (doc_id, n_feats, logw_q). */
  private[queries] val dsirCtes: String =
    s"""d AS (SELECT doc_id, text, source FROM documents
       |       WHERE length(trim(text)) > 0),
       |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM d),
       |uni AS (SELECT doc_id, unnest(tk) AS f FROM tok),
       |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
       |        i -> tk[i] || ' ' || tk[i+1])) AS f FROM tok WHERE len(tk) >= 2),
       |feats AS (SELECT doc_id, ${h60sql("f")} % 1024 AS b
       |          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
       |ftf AS (SELECT doc_id, b, count(*) AS m FROM feats GROUP BY 1, 2),
       |dct AS (SELECT b, sum(m) AS ct FROM ftf JOIN documents USING (doc_id)
       |        WHERE source = 'src0' GROUP BY 1),
       |dcr AS (SELECT b, sum(m) AS cr FROM ftf WHERE doc_id % 3 = 1 GROUP BY 1),
       |dj AS (SELECT coalesce(dct.b, dcr.b) AS b, coalesce(dct.ct, 0) AS ct,
       |              coalesce(dcr.cr, 0) AS cr
       |       FROM dct FULL JOIN dcr ON dct.b = dcr.b),
       |dsc AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM dj),
       |dmodel AS (SELECT b,
       |    CAST(round(ln((ct + 1)::DOUBLE / (tt + 1024)) * 1000000) AS BIGINT) AS ltq,
       |    CAST(round(ln((cr + 1)::DOUBLE / (tr + 1024)) * 1000000) AS BIGINT) AS lrq
       |  FROM dj CROSS JOIN dsc),
       |dconsts AS (SELECT
       |    CAST(round(ln(1.0 / (tt + 1024)) * 1000000) AS BIGINT) AS ut,
       |    CAST(round(ln(1.0 / (tr + 1024)) * 1000000) AS BIGINT) AS ur FROM dsc),
       |dsir AS (
       |  SELECT ftf.doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
       |    CAST(sum(m * (coalesce(ltq, ut) - coalesce(lrq, ur))) AS BIGINT) AS logw_q
       |  FROM ftf LEFT JOIN dmodel USING (b) CROSS JOIN dconsts
       |  GROUP BY 1)""".stripMargin

  /** Shared by p03 (exact probe) and p18 (Bloom-prefiltered probe): the
    * two operators are required to be byte-identical, so they share ONE
    * oracle statement. */
  private val p03OracleSql =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50),
      |bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
      |ctok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
      |csh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |  FROM ctok WHERE len(tk) >= 3),
      |btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM bench),
      |bsh AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |  FROM btok WHERE len(tk) >= 3),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM csh GROUP BY doc_id),
      |h AS (
      |  SELECT doc_id, count(*) AS hits FROM csh
      |  WHERE s IN (SELECT s FROM bsh) GROUP BY doc_id)
      |SELECT corpus.doc_id,
      |  coalesce(cnt.n_sh, 0) AS n_sh,
      |  coalesce(h.hits, 0) AS hits,
      |  coalesce(h.hits, 0) >= 5 AS contaminated
      |FROM corpus
      |LEFT JOIN cnt ON corpus.doc_id = cnt.doc_id
      |LEFT JOIN h ON corpus.doc_id = h.doc_id
      |ORDER BY corpus.doc_id""".stripMargin

  /** minhash signature m0..m7 as SQL select-list items: one base h60 per
    * shingle, k affine permutations mod 2^31-1 (mirrors Dedup.perm). */
  private[queries] val minhashCols = (0 until 8).map { i =>
    s"min((${Dedup.permA(i)} * (${h60sql("s")} % ${Dedup.PermM}) + ${Dedup.permB(i)}) % ${Dedup.PermP}) AS m$i"
  }.mkString(", ")

  /** The d17/d18 incremental-admission CTE block (oracle side): probes
    * `${p}batch` against `${p}corpus` via banded MinHash — asymmetric,
    * so corpus×corpus pairs never form — plus the batch's internal
    * lower-id self-join, verifies every candidate at Jaccard >= 0.5
    * over distinct 3-shingles, and lands the per-batch-doc verdict in
    * a final CTE named `${p}res` (doc_id, n_corpus_dups, n_batch_dups,
    * best_jaccard, kept). Emits a comma-separated CTE list with no
    * leading WITH and no trailing comma; every CTE name carries the
    * prefix so two blocks (d18's round 1 and round 2) can coexist in
    * one statement.
    */
  private def admissionBlockSql(p: String): String = {
    val bandKeys = (0 until 4).map { b =>
      s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
    }.mkString(", ")
    s"""${p}ctok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM ${p}corpus),
       |${p}csh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
       |  FROM ${p}ctok WHERE len(tk) >= 3),
       |${p}btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM ${p}batch),
       |${p}bsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
       |  FROM ${p}btok WHERE len(tk) >= 3),
       |${p}csig AS (SELECT doc_id, $minhashCols FROM ${p}csh GROUP BY doc_id),
       |${p}bsig AS (SELECT doc_id, $minhashCols FROM ${p}bsh GROUP BY doc_id),
       |${p}cband AS (SELECT doc_id, unnest([$bandKeys]) AS band_key FROM ${p}csig),
       |${p}bband AS (SELECT doc_id, unnest([$bandKeys]) AS band_key FROM ${p}bsig),
       |${p}cand_c AS (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS o_id
       |  FROM ${p}bband b JOIN ${p}cband c ON b.band_key = c.band_key),
       |${p}cand_b AS (SELECT DISTINCT b.doc_id AS b_id, o.doc_id AS o_id
       |  FROM ${p}bband b JOIN ${p}bband o ON b.band_key = o.band_key AND o.doc_id < b.doc_id),
       |${p}ccnt AS (SELECT doc_id, count(*) AS c FROM ${p}csh GROUP BY doc_id),
       |${p}bcnt AS (SELECT doc_id, count(*) AS c FROM ${p}bsh GROUP BY doc_id),
       |${p}hit_c AS (
       |  SELECT pr.b_id, pr.o_id, count(*) AS inter
       |  FROM ${p}cand_c pr
       |  JOIN ${p}bsh b ON b.doc_id = pr.b_id
       |  JOIN ${p}csh c ON c.doc_id = pr.o_id AND c.s = b.s
       |  GROUP BY 1, 2),
       |${p}ver_c AS (
       |  SELECT h.b_id, CAST(h.inter AS DOUBLE) / (bb.c + cc.c - h.inter) AS jaccard,
       |    TRUE AS vc
       |  FROM ${p}hit_c h JOIN ${p}bcnt bb ON h.b_id = bb.doc_id
       |  JOIN ${p}ccnt cc ON h.o_id = cc.doc_id
       |  WHERE CAST(h.inter AS DOUBLE) / (bb.c + cc.c - h.inter) >= 0.5),
       |${p}hit_b AS (
       |  SELECT pr.b_id, pr.o_id, count(*) AS inter
       |  FROM ${p}cand_b pr
       |  JOIN ${p}bsh b ON b.doc_id = pr.b_id
       |  JOIN ${p}bsh o ON o.doc_id = pr.o_id AND o.s = b.s
       |  GROUP BY 1, 2),
       |${p}ver_b AS (
       |  SELECT h.b_id, CAST(h.inter AS DOUBLE) / (bb.c + oo.c - h.inter) AS jaccard,
       |    FALSE AS vc
       |  FROM ${p}hit_b h JOIN ${p}bcnt bb ON h.b_id = bb.doc_id
       |  JOIN ${p}bcnt oo ON h.o_id = oo.doc_id
       |  WHERE CAST(h.inter AS DOUBLE) / (bb.c + oo.c - h.inter) >= 0.5),
       |${p}hits AS (SELECT * FROM ${p}ver_c UNION ALL SELECT * FROM ${p}ver_b),
       |${p}agg AS (
       |  SELECT b_id,
       |    CAST(sum(CASE WHEN vc THEN 1 ELSE 0 END) AS BIGINT) AS ncd,
       |    CAST(sum(CASE WHEN vc THEN 0 ELSE 1 END) AS BIGINT) AS nbd,
       |    max(jaccard) AS bj
       |  FROM ${p}hits GROUP BY b_id),
       |${p}res AS (
       |  SELECT b.doc_id,
       |    CAST(coalesce(ncd, 0) AS BIGINT) AS n_corpus_dups,
       |    CAST(coalesce(nbd, 0) AS BIGINT) AS n_batch_dups,
       |    coalesce(bj, 0.0) AS best_jaccard,
       |    CAST(CASE WHEN coalesce(ncd, 0) = 0 AND coalesce(nbd, 0) = 0
       |      THEN 1 ELSE 0 END AS BIGINT) AS kept
       |  FROM ${p}batch b LEFT JOIN ${p}agg a ON b.doc_id = a.b_id)""".stripMargin
  }

  /** per-language profile hit counts as SQL select-list items (t03/p05) */
  private[queries] val langHitsSql = TextAnalysis.defaultProfiles.map { case (lang, words) =>
    val lst = words.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(tk, w -> w IN ($lst))) AS BIGINT) AS s_$lang"
  }.mkString(",\n    ")

  /** argmax lang with smallest-lang tie-break (t03/p05) */
  private[queries] val langPredSql = {
    val langsSorted = TextAnalysis.defaultProfiles.map(_._1).sorted
    val m = "greatest(" + TextAnalysis.defaultProfiles.map(p => s"s_${p._1}").mkString(", ") + ")"
    "CASE " + langsSorted.map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ") + " END"
  }

  /** quantized embeddings + exact integer norms */
  private[queries] val quantCte =
    """e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nn FROM e)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- dedup ----

    // re-crawl corpus diff: a simulated second crawl (deletions,
    // real edits, FORMATTING-ONLY churn, new pages) diffed against the
    // standing corpus on canonical fingerprints — whitespace padding
    // must read UNCHANGED (no downstream re-processing), real edits
    // CHANGED, and the join carries (id, fp) pairs only, never text
    "d19_snapshot_diff" -> ((s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val recrawl = v1.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated")))
            .when(col("doc_id") % 3 === 0, concat(lit("  "), col("text"), lit("   ")))
            .otherwise(col("text")))
      val v2 = recrawl.unionByName(
        v1.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(v1, v2, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // d19 + edit-severity triage: appended-word edits triage minor_edit,
    // word-order reversals triage rewrite, formatting churn stays
    // unchanged — per-id shingle Jaccard inside the one co-partitioned
    // join, shingles never shuffle, no cross-document pair anywhere
    "d20_snapshot_fuzzy_diff" -> ((s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val recrawl = v1.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated")))
            .when(col("doc_id") % 3 === 0, concat(lit("  "), col("text"), lit("   ")))
            .when(col("doc_id") % 13 === 0,
              concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))))
            .otherwise(col("text")))
      val v2 = recrawl.unionByName(
        v1.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000000L).as("doc_id"), col("text")))
      Dedup.snapshotFuzzyDiff(v1, v2, "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    "d01_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      // add formatting-noise copies so exact dedup has work to do
      val noisy = d.select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("  "), col("text"), lit("   ")).as("text"))
      Dedup.exactGroups(d.unionByName(noisy), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    "d02_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }),

    "d03_minhash_sig" -> ((s, dir) => {
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text", k = 8, n = 3)
        .select(col("doc_id") +:
          (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
        .orderBy(col("doc_id"))
    }),

    "d04_lsh_pairs" -> ((s, dir) => {
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
          bands = 4, rowsPerBand = 2, n = 3, threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // char-level near-dup: LSH band candidates verified by TRUE edit
    // similarity (levenshtein / max-len) — catches the within-token
    // edit noise shingle Jaccard ignores; '... ok'-suffixed copies are
    // a 3-char edit and must pair with their originals at 0.9
    "d21_edit_neardup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val noisy = d.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" ok")).as("text"))
      Dedup.editSimilarityPairs(d.unionByName(noisy), "doc_id", "text",
          bands = 4, rowsPerBand = 2, n = 3, editSim = 0.9, maxDist = 200)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // EDIT-level decontamination: benchmark items leetspeak-rewritten
    // (e → 3) — every word containing an 'e' changes, so the word-
    // shingle fuzzy probe can't even candidate them. Candidacy = an
    // EXACT shared-char-8-gram overlap bar (deterministic recall — no
    // banding: measured background char-gram similarity drowns any
    // minhash signature), then the bounded-DP verifier scores true
    // edit similarity
    "d22_edit_decontamination" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 17 === 0)
        .withColumn("text", translate(col("text"), "e", "3"))
      Dedup.editContamination(d, bench, "doc_id", "text",
          k = 8, minOverlap = 0.25, editSim = 0.8, maxDist = 200)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // incremental EDIT-level admission: leetspeak re-submissions of
    // standing-corpus docs and suffix-edited copies of earlier batch
    // docs are rejected; candidacy = the exact overlap bar, scale = the
    // d17 discipline (increment grams broadcast, corpus streams
    // map-side, corpus×corpus never generated)
    "d24_edit_admission" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 2 === 0)
      // a true INCREMENT: ~5% of the corpus + its contaminated copies
      val novel = d.filter(col("doc_id") % 20 === 1)
      val batch = novel
        .unionByName(d.filter(col("doc_id") % 30 === 0)
          .select((col("doc_id") + 500000).as("doc_id"),
            translate(col("text"), "e", "3").as("text")))
        .unionByName(d.filter(col("doc_id") % 50 === 1)
          .select((col("doc_id") + 600000).as("doc_id"),
            concat(col("text"), lit(" ok")).as("text")))
      Dedup.editAdmission(corpus, batch, "doc_id", "text",
          k = 8, minOverlap = 0.25, editSim = 0.8, maxDist = 200,
          gramSampleMod = 4)
        .orderBy(col("doc_id"))
    }),

    "d05_simhash" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // simhash near-dup pairs: whitespace-noise copies (identical token
    // multiset → identical fingerprint, hamming 0) must pair with their
    // originals; recall is pigeonhole-exact, not probabilistic
    "d11_simhash_pairs" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val noisy = d.select((col("doc_id") + 200000).as("doc_id"),
        concat(lit("  "), col("text"), lit("   ")).as("text"))
      Dedup.simhashPairs(d.unionByName(noisy), "doc_id", "text")
        .orderBy(col("a_id"), col("b_id"))
    }),

    "d06_embed_neardup" -> ((s, dir) => {
      Similarity.cosineNearDupPairsExact(
          Similarity.prep(embs(s, dir), "vec_id", "embedding"), threshold = 0.4)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // the scale-path operator, against the SAME exact-pairs oracle: the
    // SRP bands must recover every pair ≥ threshold at fixture scale
    "d08_embed_neardup_lsh" -> ((s, dir) => {
      Similarity.cosineNearDupPairs(
          Similarity.prep(embs(s, dir), "vec_id", "embedding"),
          threshold = 0.4, dim = 64)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // maxDf skew guard under oracle: every doc gets the same boilerplate
    // tail (shingle df = corpus size ≫ cap), the cap drops those
    // ubiquitous shingles from pair intersections while n_sh stays the
    // FULL set size — exactly the capped-semantics the 100 TB skew story
    // relies on
    "d09_jaccard_maxdf" -> ((s, dir) => {
      val noisy = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" the quick brown fox jumps over the lazy dog")).as("text"))
      Dedup.jaccardPairs(noisy, "doc_id", "text", n = 3, threshold = 0.5, maxDf = Some(100))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // benchmark decontamination: docs sharing ≥5 distinct 3-gram shingles
    // with the benchmark set (doc_id < 50 as the benchmark stand-in) are
    // flagged — the test-set-contamination gate
    "p03_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Dedup.contaminationHits(
          d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50),
          "doc_id", "text", n = 3, minHits = 5)
        .orderBy(col("doc_id"))
    }),

    // p03 behind a FIXED-SIZE Bloom prefilter: deliberately undersized
    // bits (~4 per shingle → real false positives) prove the exact
    // verify join makes the output byte-identical to the exact path —
    // p03's oracle, verbatim
    "p18_bloom_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Dedup.contaminationHitsBloom(
          d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50),
          "doc_id", "text", n = 3, minHits = 5,
          estBenchShingles = 1L << 14, numBits = 1L << 16)
        .orderBy(col("doc_id"))
    }),

    // SURGICAL span decontamination: every corpus doc carries a verbatim
    // benchmark doc (doc_id % 50) appended — p19 must excise exactly the
    // quoted spans and keep the rest, instead of dropping whole docs
    "p19_decontaminate_spans" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 50)
      val corpus = d.filter(col("doc_id") >= 50)
        .join(bench.select(col("doc_id").as("bid"), col("text").as("btext")),
          col("doc_id") % 50 === col("bid"))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("btext")).as("text"))
      graft.ops.Dedup.decontaminateSpans(corpus, bench, "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    }),

    // the round-8 chain, every stage a library operator: surgical span
    // decontamination → exact dedup on the CLEANED text (fully-cut docs
    // collapse to one '' keeper — the stage provably bites) → quality →
    // global-window-free curriculum rank → BPE-denominated token budget
    "p21_decontam_curriculum" -> ((s, dir) => {
      import graft.ops.{RegexBpeTokenizer, Sampling}
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 50)
      val corpus = d.filter(col("doc_id") >= 50)
        .join(bench.select(col("doc_id").as("bid"), col("text").as("btext")),
          col("doc_id") % 50 === col("bid"))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("btext")).as("text"))
      // stage boundary: the cleaned text feeds dedup, scoring, and
      // counting — materialize once (the p15 lesson)
      val cleaned = Dedup.decontaminateSpans(corpus, bench, "doc_id", "text", k = 8)
        .select(col("doc_id"), col("clean_text")).localCheckpoint()
      val unique = cleaned.join(
        Dedup.exactGroups(cleaned, "doc_id", "clean_text")
          .select(col("keeper").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val scored = unique.select(col("doc_id"),
          TextAnalysis.qualityScore(col("clean_text")).as("q"),
          RegexBpeTokenizer.count(col("clean_text")).as("n_tokens"))
        .localCheckpoint()
      val ranked = Sampling.curriculumRank(
        scored.select(col("doc_id"), col("q")), "doc_id", "q")
      Sampling.tokenBudget(scored, "doc_id", "q", "n_tokens", budget = 500000L)
        .join(ranked.select(col("doc_id"), col("rank")), Seq("doc_id"))
        .select(col("doc_id"), col("q"), col("rank"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // the round-9 chain — ingesting a NEW crawl increment end-to-end,
    // every stage a library operator: C4 line cleaning + Gopher gate
    // (t14) → incremental near-dup admission against the standing
    // corpus (d17 — corpus×corpus pairs never generated) → BPE token
    // budget over the admitted docs; boilerplate pages clean away,
    // corpus-derived and increment-internal near-dups are rejected,
    // and the budget keeps the best of what is genuinely new
    "p24_incremental_ingest" -> ((s, dir) => {
      import graft.ops.{RegexBpeTokenizer, Sampling}
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text").as("clean_text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val nearCorpus = d.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0)
        .join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("next_text"), lit("zz")).as("payload"))
      val novel = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text").as("payload"))
      val secondGen = novel.select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", col("payload"), lit("yy")).as("payload"))
      val pages = nearCorpus.unionByName(novel).unionByName(secondGen)
        .select(col("doc_id"), concat_ws("\n",
          concat(col("payload"), lit(".")),
          lit("click here"),
          lit("menu { color: red } javascript")).as("text"))
      // stage boundary: the cleaned+gated increment feeds admission AND
      // scoring (the p15 lesson)
      val cleaned = TextAnalysis.c4GopherClean(pages, "doc_id", "text",
          minLineWords = 3, minWords = 20, maxWords = 100000)
        .filter(col("gopher_pass") === 1L)
        .select(col("doc_id"), col("clean_text")).localCheckpoint()
      // maxBandDf: 2-row bands collide aggressively — one boilerplate
      // band key shared by >64 corpus docs would fan every colliding
      // increment doc across the cluster (recall survives through the
      // other bands; the oracle mirrors the cap)
      val admitted = Dedup.incrementalNearDup(corpus, cleaned, "doc_id", "clean_text",
          bands = 4, rowsPerBand = 2, n = 3, threshold = 0.5, maxBandDf = Some(64))
        .filter(col("kept") === 1L).select("doc_id")
      // stage boundary: tokenBudget consumes its input twice (histogram
      // collect + tier filters) — don't re-run the LSH admission per pass
      val scored = cleaned.join(admitted, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("clean_text")).as("q"),
          RegexBpeTokenizer.count(col("clean_text")).as("n_tokens"))
        .localCheckpoint()
      Sampling.tokenBudget(scored, "doc_id", "q", "n_tokens", budget = 1500L)
        .orderBy(col("doc_id"))
    }),

    // FUZZY decontamination: near-copies of benchmark docs (tail-extended,
    // shifted ids) hide among the corpus; exact shingle-count probes see
    // diluted verbatim overlap, Jaccard at 0.5 still flags them
    "p14_fuzzy_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 50)
      val corpus = d.filter(col("doc_id") >= 50).unionByName(
        bench.select((col("doc_id") + 600000).as("doc_id"),
          concat(col("text"), lit(" uu vv ww")).as("text")))
      Dedup.fuzzyContamination(corpus, bench, "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // deterministic md5-hash train/val/test split — stable under
    // reshuffles, retries, and engine changes (never rand())
    "p04_hash_split" -> ((s, dir) => {
      graft.ops.Sampling.hashSplit(docs(s, dir).select(col("doc_id")), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // stratified deterministic sampling: down-sample the dominant
    // language (en → 30%) with per-stratum hash rates
    "p05_stratified_sample" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("lang", TextAnalysis.langId(col("text")))
      graft.ops.Sampling.stratifiedSample(d, "doc_id", "lang", Map("en" -> 300))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // the FULL modern curation pipeline, every stage a library operator:
    // quality gate → benchmark decontamination → exact dedup → stratified
    // sample → token-budget selection → training-sequence chunking
    "p06_full_pipeline" -> ((s, dir) => {
      import graft.ops.{Sampling, TextAnalysis}
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") >= 50)
      val bench = d.filter(col("doc_id") < 50)
      val scored = corpus.select(col("doc_id"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.langId(col("text")).as("lang"))
        .filter(col("q") >= 0.2)
        // stage boundary: scored feeds the contamination probe (twice,
        // internally), its semi-join, and the dedup chain — materialize
        // once instead of re-running the compiled kernels per consumer
        .localCheckpoint()
      val clean = scored.join(
        Dedup.contaminationHits(scored, bench, "doc_id", "text", n = 3, minHits = 5)
          .filter(!col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val keepers = clean.join(
        Dedup.exactGroups(clean, "doc_id", "text").select(col("keeper").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val sampled = Sampling.stratifiedSample(
        keepers.localCheckpoint(), "doc_id", "lang", Map("en" -> 500))
      val selected = Sampling.tokenBudget(sampled, "doc_id", "q", "n_tokens", budget = 20000L)
      TextAnalysis.chunk(
          selected.join(d.select("doc_id", "text"), Seq("doc_id")),
          "doc_id", "text", size = 100, stride = 80)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // directed containment: every doc gains an extended copy (text + an
    // 8-token tail), so original ⊂ copy while the copy→original direction
    // is diluted below threshold — the quote/boilerplate-inclusion case
    // Jaccard structurally misses. The shared tail makes its shingles
    // ubiquitous (df = corpus size), so the maxDf skew cap is load-bearing
    // here: without it the self-join would carry Θ(n²) tail-pair rows
    "d12_containment" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val extended = d.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" xx yy zz qq ww ee rr tt")).as("text"))
      Dedup.containmentPairs(d.unionByName(extended), "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = Some(100))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // boilerplate-recall containment: same extended-copy corpus as d12 but
    // capAdjusted — n_a counts only post-cap (surviving) shingles, so the
    // ratio stays consistent with what inter can see and documents
    // dominated by df-capped boilerplate pair on their distinctive
    // remainder (the use case the d12 cap suppresses, found without the
    // Θ(n²) hazard of raising the cap)
    "d13_containment_boiler" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val extended = d.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" xx yy zz qq ww ee rr tt")).as("text"))
      Dedup.containmentPairs(d.unionByName(extended), "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = Some(100), capAdjusted = true)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // exact-count quota sampling: rebalance the corpus to a hard
    // per-language budget (counts, not rates — p05's binomial twin)
    "p07_quota_sample" -> ((s, dir) => {
      graft.ops.Sampling.quotaSample(
          docs(s, dir).select(col("doc_id"), col("lang")),
          "doc_id", "lang",
          Map("en" -> 60L, "de" -> 25L, "fr" -> 20L, "es" -> 25L, "zh" -> 30L))
        .orderBy(col("doc_id"))
    }),

    // target-mixture rebalance: integer water-filling over (en:4, de:2,
    // fr:1, es:1) parts — zh is outside the mixture and dropped; the
    // scarcest stratum binds the total, every quota is exact integer math
    "p09_mixture_rebalance" -> ((s, dir) => {
      graft.ops.Sampling.rebalanceToMixture(
          docs(s, dir).select(col("doc_id"), col("lang")),
          "doc_id", "lang",
          Map("en" -> 4L, "de" -> 2L, "fr" -> 1L, "es" -> 1L))
        .orderBy(col("doc_id"))
    }),

    // exact-substring span dedup: each synthetic doc carries its
    // successor's full text, so every successor token run ≥ 8 reappears
    // and must be cut from wherever the (doc_id, pos)-first occurrence
    // does NOT live; intra-doc repeats cut too
    "d15_span_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
      Dedup.dedupSpans(synth, "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    }),

    // doc-level streaming exact dedup on d01's noisy fixture: the
    // whitespace-noise copies (ids +100000) arrive in the later ordered
    // chunks and must all gate to kept = false; every original is the
    // global first of its fingerprint and keeps
    // p07's stream twin: exact per-language budgets as a first-come
    // ingestion ADMISSION gate — per-class counters (≤ |classes| rows,
    // constant in stream length) behind an atomic generation flip, the
    // ascending-arrival contract HWM-enforced (re-admission on replay is
    // the additive-state hazard, like s20). Under ascending doc_id
    // chunks the admitted set is the plain per-class rank prefix — the
    // oracle is one window
    "s28_stream_quota" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s28")
      val in = graft.queries.ExtendedQueries.onceLog("s28", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("lang").as("cls"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      graft.streaming.StreamQuota.drain(s, s"$work/state",
          Map("en" -> 60L, "de" -> 25L, "fr" -> 20L, "es" -> 25L, "zh" -> 30L),
          in, s"$work/out", s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    "s13_stream_exact_dedup" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s13")
      val in = graft.queries.ExtendedQueries.onceLog("s13", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val noisy = d.select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("  "), col("text"), lit("   ")).as("text"))
        val all = d.unionByName(noisy)
        writeLog(all, path, thirds(all, "doc_id"): _*)
      }
      val state = new graft.streaming.TxnLogState(s"$work/seen", s, 16,
        autoCompactEvery = 2, maintenanceGraceMs = 0L)
      graft.streaming.StreamExactDedup
        .drain(s, state, in, s"$work/out", s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    // t15's stream twin: the NB quality classifier as an ingestion
    // ADMISSION gate — train once on the standing labeled seed, freeze
    // (model, consts) as parquet artifacts, then score each ordered
    // chunk per micro-batch and keep positives. Stateless (no ordering
    // contract, no high-water mark); oracle = t15's train+score SQL
    // restricted to admitted docs
    "s14_stream_nb_gate" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s14")
      val in = graft.queries.ExtendedQueries.onceLog("s14", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      val d = docs(s, dir)
      val seed = d.filter(col("source") === "src0" || col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("source") === "src0").as("lab"))
      val (model, consts) = graft.ops.CorpusStats.nbTrain(d, "doc_id", "text", seed)
      graft.streaming.StreamNbGate.drain(s,
          graft.queries.ExtendedQueries.freeze(model, s"$work/model"),
          graft.queries.ExtendedQueries.freeze(consts, s"$work/consts"),
          in, s"$work/out", s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    // t31's stream twin: the frozen gate's CALIBRATION monitored on the
    // labeled slice of the ingest stream — per-band (n, n_pos) counters
    // (≤ bands rows, constant in stream length) folded additively under
    // the HWM/replay-skip contract; scoring stateless via the broadcast-
    // probe nbScore. Drained curve == batch t31, its oracle
    "s33_stream_calibration" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s33")
      val d = docs(s, dir)
      val seed = d.filter(col("source") === "src0" || col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("source") === "src0").as("lab"))
      val in = graft.queries.ExtendedQueries.onceLog("s33", dir) { path =>
        val labeled = d.join(seed, Seq("doc_id"))
          .select(col("doc_id"), col("text"), col("lab"))
        writeLog(labeled, path, thirds(labeled, "doc_id"): _*)
      }
      val (model, consts) = graft.ops.CorpusStats.nbTrain(d, "doc_id", "text", seed)
      graft.streaming.StreamCalibration.drain(s,
          graft.queries.ExtendedQueries.freeze(model, s"$work/model"),
          graft.queries.ExtendedQueries.freeze(consts, s"$work/consts"),
          s"$work/agg", in, s"$work/ckpt")
        .orderBy(col("bin"))
    }),

    // t16's stream twin: the DSIR importance gate as ingestion ADMISSION —
    // fit once on the standing target/raw seeds, freeze (model, consts) as
    // parquet artifacts, score each ordered chunk per micro-batch, keep
    // logw_q > 0. Stateless like s14; the fixed-size model broadcasts
    // unconditionally on every trigger — no vocabulary-sized probe at all
    "s15_stream_dsir_gate" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s15")
      val in = graft.queries.ExtendedQueries.onceLog("s15", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      val d = docs(s, dir)
      val (model, consts) = graft.ops.CorpusStats.dsirTrain(
        d.filter(col("source") === "src0"), d.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", buckets = 1024)
      graft.streaming.StreamDsirGate.drain(s,
          graft.queries.ExtendedQueries.freeze(model, s"$work/model"),
          graft.queries.ExtendedQueries.freeze(consts, s"$work/consts"),
          1024, in, s"$work/out", s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    // d15's stream twin: the cut computed incrementally per micro-batch
    // over the s11 seen-k-gram state — same ordered three-chunk log,
    // same DocStateStore bucketing, oracle = d15's SQL verbatim
    "s12_stream_span_dedup" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s12")
      val in = graft.queries.ExtendedQueries.onceLog("s12", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
        val synth = d.join(succ, Seq("doc_id"))
          .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
        writeLog(synth, path, thirds(synth, "doc_id"): _*)
      }
      val state = new graft.streaming.TxnLogState(s"$work/seen", s, 16,
        autoCompactEvery = 2, maintenanceGraceMs = 0L)
      graft.streaming.StreamSpanDedup
        .drain(s, state, in, s"$work/out", s"$work/ckpt", k = 8)
        .orderBy(col("doc_id"))
    }),

    // d30's stream twin: the char-granular cut computed incrementally per
    // micro-batch against the cross-batch seen-k-gram state — shares
    // s12's ordered input log (same synth corpus, separate checkpoint and
    // state), and under ascending arrival must equal d30's batch cover
    // mask exactly, so its oracle is d30's SQL verbatim
    "s39_stream_char_span_dedup" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s39")
      val in = graft.queries.ExtendedQueries.onceLog("s12", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
        val synth = d.join(succ, Seq("doc_id"))
          .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
        writeLog(synth, path, thirds(synth, "doc_id"): _*)
      }
      val state = new graft.streaming.TxnLogState(s"$work/seen", s, 16,
        autoCompactEvery = 2, maintenanceGraceMs = 0L)
      graft.streaming.StreamCharSpanDedup
        .drain(s, state, in, s"$work/out", s"$work/ckpt", k = 25)
        .orderBy(col("doc_id"))
    }),

    // variable-length exact-substring runs on the same successor-concat
    // corpus: the m-token restated successor text yields m-k+1 duplicate
    // windows that must merge back into ONE maximal run whose length is
    // the true duplicated-span extent, not a window count
    "d16_duplicate_runs" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
      Dedup.duplicateRuns(synth, "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("run_start"))
    }),

    // CHAR-granular ExactSubstr on the same successor-concat corpus:
    // every doc's tail restates its successor's full text as a CHAR run,
    // so the 25-char keep-first cover mask cuts it wherever the
    // (doc_id, pos)-first occurrence does NOT live — duplication that
    // token windows would also catch here, but detected without any
    // token boundary (the OCR/code/CJK form of d15)
    "d30_char_span_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
      Dedup.dedupCharSpans(synth, "doc_id", "text", k = 25)
        .orderBy(col("doc_id"))
    }),

    // CHAR-granular benchmark decontamination (Lee et al./GPT-3-report
    // ExactSubstr train-vs-eval): benchmark = a 120-char mid-document
    // fragment of every 37th doc, so contamination is SUB-document char
    // overlap — the fragment's source doc flags on a fraction of its
    // windows, docs sharing no 25-char run stay clean; d22 (edit
    // distance) and p03/p14 (token n-gram/MinHash) cannot see this bar
    "d31_char_decontamination" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(substring(col("text"), 40, 120).as("text"))
      Dedup.charContamination(d, bench, "doc_id", "text", k = 25)
        .orderBy(col("doc_id"))
    }),

    // d31's streaming admission twin: the benchmark gram set is frozen
    // into one bounded broadcast at drain start and every trigger runs
    // the same map-only probe — no cross-batch state, so ANY arrival
    // order equals the batch operator and the oracle is d31's verbatim
    "s40_stream_char_decontamination" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s40c")
      // key "s40c": the pre-existing s40_stream_repetition_gate already
      // holds onceLog key "s40" for its pages corpus — the cache is
      // keyed per (key, sfDir), so a shared key would hand one of the
      // two drains the other's log depending on run order
      val in = graft.queries.ExtendedQueries.onceLog("s40c", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      val bench = docs(s, dir).filter(col("doc_id") % 37 === 0)
        .select(substring(col("text"), 40, 120).as("text"))
      graft.streaming.StreamCharDecontamination
        .drain(s, bench, in, s"$work/out", s"$work/ckpt", k = 25)
        .orderBy(col("doc_id"))
    }),

    // SURGICAL char-granular decontamination: cut ONLY the 25-char
    // windows shared with the benchmark and rebuild the doc — keeps
    // the 99% of a long doc that d31's drop verdict would forfeit;
    // p19's philosophy at the granularity token probes can't see.
    // Strictly cheaper than d30: membership in a static broadcast set,
    // no winners aggregate, no join-back — one map-only pass
    "d33_char_decontaminate_spans" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(substring(col("text"), 40, 120).as("text"))
      Dedup.charDecontaminateSpans(d, bench, "doc_id", "text", k = 25)
        .orderBy(col("doc_id"))
    }),

    // d33's streaming twin: static benchmark set → any arrival order
    // equals the batch cut, oracle verbatim
    "s42_stream_char_span_decontamination" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s42")
      val in = graft.queries.ExtendedQueries.onceLog("s42", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      val bench = docs(s, dir).filter(col("doc_id") % 37 === 0)
        .select(substring(col("text"), 40, 120).as("text"))
      graft.streaming.StreamCharSpanDecontamination
        .drain(s, bench, in, s"$work/out", s"$work/ckpt", k = 25)
        .orderBy(col("doc_id"))
    }),

    // d32's streaming admission-time twin: the CSR gram→item broadcast
    // freezes at drain start, every trigger appends its leak-sized
    // (doc, item, count) pairs, and the census is a benchmark-sized
    // view over the accumulated pair log — order-independent (per-doc
    // facts against a static reference), so d32's SQL is the oracle
    // verbatim
    "s41_stream_contamination_census" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s41")
      val in = graft.queries.ExtendedQueries.onceLog("s41", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      val bench = docs(s, dir).filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 40, 120).as("text"))
      graft.streaming.StreamContaminationCensus
        .drain(s, bench, in, s"$work/out", s"$work/ckpt", k = 25)
        .orderBy(col("bench_id"))
    }),

    // d31's INVERSE report — the eval owner's census: per benchmark
    // item, how many corpus docs share a 25-char run with it, their
    // total overlapping windows, and the single worst doc's count
    // (one verbatim mirror vs thousands quoting a line). Fragments of
    // every 37th doc keep their source doc_id as the bench item id;
    // items whose fragment leaks nowhere report zeros
    "d32_contamination_census" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 40, 120).as("text"))
      Dedup.charContaminationCensus(d, bench, "doc_id", "bench_id", "text", k = 25)
        .orderBy(col("bench_id"))
    }),

    // k-gram novelty scoring on the successor-concat corpus: every doc's
    // head restates its predecessor's tail, so novelty sits near the
    // fraction of genuinely-new windows — the doc-level duplication
    // signal quality filters threshold on
    "t13_novelty" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
      Dedup.noveltyScores(synth, "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    }),

    // C4 line cleaning + Gopher document rules over synthetic 4-line
    // pages: line 1 (own text + '.') and line 4 (successor text +
    // ' right?') survive the line filter, the 2-word teaser and the
    // javascript/brace boilerplate drop; the Gopher mask then judges
    // the cleaned text — short docs fail the word-count rule, so the
    // bitmask genuinely discriminates on the fixture
    "t14_c4_gopher" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws("\n",
          concat(col("text"), lit(".")),
          lit("click here"),
          lit("menu { color: red } javascript"),
          concat(col("next_text"), lit(" right?"))).as("text"))
      TextAnalysis.c4GopherClean(synth, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // incremental crawl admission: corpus = 4/5 of the fixture; the
    // increment carries corpus-derived near-dups (successor text + one
    // word -> rejected vs corpus), genuinely novel docs (texts the
    // corpus never saw -> admitted), and second-generation copies of
    // those novel docs (higher id -> rejected vs the batch itself);
    // corpus x corpus pairs are never generated
    "d17_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val nearCorpus = d.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0)
        .join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("next_text"), lit("zz")).as("text"))
      val novel = d.filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
      val secondGen = novel.select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", col("text"), lit("yy")).as("text"))
      val batch = nearCorpus.unionByName(novel).unionByName(secondGen)
      Dedup.incrementalNearDup(corpus, batch, "doc_id", "text",
          bands = 4, rowsPerBand = 2, n = 3, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // d17's admission replayed against the PERSISTED index, two rounds:
    // round 1 gates the corpus-near-dups + novel docs against the indexed
    // corpus; the admitted slice appends (no rebuild); round 2's
    // second-generation copies then reject as CORPUS dups — only the
    // appended docs can gate them — while word-reversed probes (same
    // tokens, inverted order → disjoint 3-shingles) stay novel. The
    // build → admit → append → admit chain is the index's whole API.
    // Round 1 is MATERIALIZED to scratch before the append: admitWith-
    // Index is lazy over the index parquet, so evaluating it after the
    // append would let round 1 see its own admitted docs as corpus.
    "d18_neardup_index" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val nearCorpus = d.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0)
        .join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("next_text"), lit("zz")).as("text"))
      val novel = d.filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
      val r1batch = nearCorpus.unionByName(novel)
      val secondGen = novel.select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", col("text"), lit("yy")).as("text"))
      val reversed = d.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))).as("text"))
      val r2batch = secondGen.unionByName(reversed)
      val work = graft.queries.ExtendedQueries.scratchDir("graft_d18")
      Dedup.buildNearDupIndex(corpus, s"$work/idx", "doc_id", "text",
        bands = 4, rowsPerBand = 2, n = 3, threshold = 0.5)
      Dedup.admitWithIndex(s, s"$work/idx", r1batch, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$work/r1res")
      val r1 = s.read.parquet(s"$work/r1res")
      Dedup.appendToNearDupIndex(s, s"$work/idx",
        r1batch.join(r1.filter(col("kept") === 1).select(col("doc_id")), Seq("doc_id")),
        "doc_id", "text")
      val r2 = Dedup.admitWithIndex(s, s"$work/idx", r2batch, "doc_id", "text")
      r1.withColumn("round", lit(1L)).unionByName(r2.withColumn("round", lit(2L)))
        .select(col("round"), col("doc_id"), col("n_corpus_dups"),
          col("n_batch_dups"), col("best_jaccard"), col("kept"))
        .orderBy(col("round"), col("doc_id"))
    }),

    // temperature-scaled mixture (alpha = 0.5, the multilingual sqrt
    // smoothing): weights = isqrt(stratum size) feed the same integer
    // water-filling as p09 — the head language is downsampled toward the
    // tail's share, every quota exact
    "p13_temperature_mix" -> ((s, dir) => {
      graft.ops.Sampling.temperatureMixture(
          docs(s, dir).select(col("doc_id"), col("lang")),
          "doc_id", "lang", alpha = 0.5)
        .orderBy(col("doc_id"))
    }),

    // intra-doc repeated-paragraph removal: each synthetic doc repeats
    // its own first paragraph (and carries the successor's text), so the
    // second copy must drop while the cross-doc repeat survives — the
    // zero-shuffle complement of p10's global keep-first
    "t12_line_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws("\n", col("text"), col("text"),
          col("next_text")).as("text"))
      Dedup.dedupParagraphsWithinDoc(synth, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // C4-style cross-corpus paragraph dedup: synthetic 3-paragraph docs
    // (own text + a corpus-wide boilerplate line + the successor's text)
    // force every paragraph to repeat somewhere; only globally-first
    // occurrences survive and documents are rebuilt from the survivors
    "p10_paragraph_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws("\n", col("text"),
          lit("subscribe to our newsletter for updates"), col("next_text")).as("text"))
      Dedup.dedupParagraphs(synth, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // the round-6 curation pipeline end-to-end: cross-corpus paragraph
    // dedup → target-mixture rebalance (water-filled integer quotas) →
    // deterministic sequence packing — each stage a library operator,
    // the whole chain under one oracle
    "p12_curation_pack" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = d.select(col("doc_id"), col("text")).join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws("\n", col("text"),
          lit("subscribe to our newsletter for updates"), col("next_text")).as("text"))
      val cleaned = Dedup.dedupParagraphs(synth, "doc_id", "text")
        .filter(col("n_kept") > 0)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        // stage boundary: the rebalance census + tiered quota selection
        // and the packing stages all re-consume this frame
        .localCheckpoint()
      val balanced = graft.ops.Sampling.rebalanceToMixture(
        cleaned.select(col("doc_id"), col("lang"), col("clean_text")),
        "doc_id", "lang", Map("en" -> 4L, "de" -> 2L, "fr" -> 1L, "es" -> 1L))
      val counted = balanced.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("clean_text")).as("n_tokens"))
        .localCheckpoint()
      graft.ops.Sampling.packSequences(counted, "doc_id", "n_tokens", seqLen = 256L)
        .join(counted.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("start_off"), col("seq_first"), col("seq_last"))
        .orderBy(col("doc_id"))
    }),

    // the round-7 curation pipeline end-to-end: exact-substring span
    // dedup (every doc carries its successor's text — the head is cut
    // wherever the predecessor's tail got there first) → fuzzy benchmark
    // decontamination on the CLEANED text (tail-extended bench
    // near-copies must fall) → temperature-scaled mixture (sqrt
    // smoothing) → deterministic sequence packing; each stage a library
    // operator, the whole chain under one oracle
    "p15_span_curation_pack" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val bench = d.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
      val base = d.filter(col("doc_id") >= 50).select(col("doc_id"), col("text"))
      val succ = base.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val synth = base.join(succ, Seq("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
        .unionByName(bench.select((col("doc_id") + 600000).as("doc_id"),
          concat(col("text"), lit(" uu vv ww")).as("text")))
      // materialize the stage boundary: everything downstream (fuzzy
      // band + verify joins, the anti-join, the mixture census, the
      // tape histogram) consumes the span-dedup output several times —
      // without this the whole keep-first DAG re-executes per consumer.
      // At cluster scale this is the intermediate-table write between
      // pipeline stages; locally localCheckpoint is its analogue.
      val spanned = Dedup.dedupSpans(synth, "doc_id", "text", k = 8)
        .filter(col("n_tokens") > col("n_removed"))
        .select(col("doc_id"), col("clean_text"))
        .localCheckpoint()
      val flagged = Dedup.fuzzyContamination(
          spanned.select(col("doc_id"), col("clean_text").as("text")), bench,
          "doc_id", "text", n = 3, threshold = 0.5)
        .select(col("doc_id")).distinct()
      val decon = spanned.join(flagged, Seq("doc_id"), "left_anti")
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint()
      val balanced = graft.ops.Sampling.temperatureMixture(
        decon.select(col("doc_id"), col("lang"), col("clean_text")),
        "doc_id", "lang", alpha = 0.5)
      val counted = balanced.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("clean_text")).as("n_tokens"))
        .localCheckpoint()
      graft.ops.Sampling.packSequences(counted, "doc_id", "n_tokens", seqLen = 256L)
        .join(counted.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("start_off"), col("seq_first"), col("seq_last"))
        .orderBy(col("doc_id"))
    }),

    // GPT-style sequence packing: the corpus on one deterministic token
    // tape (id-hash order), cut into 512-token training sequences; each
    // doc reports its tape offset and the sequences it spans
    "p11_sequence_pack" -> ((s, dir) => {
      val counted = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Sampling.packSequences(counted, "doc_id", "n_tokens", seqLen = 512L)
        .orderBy(col("doc_id"))
    }),

    // p11 re-denominated through the tokenizer seam: identical packing
    // operator, BPE pre-token counts on the tape instead of whitespace
    "p17_sequence_pack_bpe" -> ((s, dir) => {
      val counted = docs(s, dir).select(col("doc_id"),
        graft.ops.RegexBpeTokenizer.count(col("text")).as("n_tokens"))
      graft.ops.Sampling.packSequences(counted, "doc_id", "n_tokens", seqLen = 512L)
        .orderBy(col("doc_id"))
    }),

    // the tape denominated in TRUE subword tokens (merges-table BPE over
    // synthesized segment+key text — the p22 accounting unit): identical
    // packing operator, third denomination through the same seam
    "p23_sequence_pack_subword" -> ((s, dir) => {
      val bpe = graft.ops.MergesBpeTokenizer.fixture
      val counted = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey").cast("long").as("doc_id"),
        bpe.count(concat(col("c_mktsegment"), lit(" "),
          col("c_custkey").cast("string"))).as("n_tokens"))
      graft.ops.Sampling.packSequences(counted, "doc_id", "n_tokens", seqLen = 64L)
        .orderBy(col("doc_id"))
    }),

    // dynamic quality threshold: keep documents at or above the corpus
    // P75 of the quality score — the cutoff adapts to the corpus instead
    // of a hand-tuned constant. The exact percentile is a 1-row aggregate
    // riding back as a broadcast; the corpus is scanned, never sorted.
    // Inclusion can't flip on float rounding: an exact-interpolated
    // percentile either equals a tied sample value exactly (both engines)
    // or falls strictly between adjacent order statistics, where no
    // sample sits
    "p08_quality_cut" -> ((s, dir) => {
      val scored = docs(s, dir).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      val thr = scored.agg(expr("percentile(q, 0.75D)").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("q") >= col("thr"))
        .select(col("doc_id"), col("q"), col("thr"))
        .orderBy(col("doc_id"))
    }),

    // corpus bigram LM scoring (CCNet-style LM quality filter): the model
    // is trained on the corpus itself, every doc scored by mean bigram
    // log-probability
    "t10_lm_score" -> ((s, dir) => {
      graft.ops.CorpusStats.bigramLmScore(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // interpolated trigram LM (t10 + one order + Jelinek–Mercer backoff,
    // the KenLM-shaped filter): every backoff count marginalizes the SAME
    // trigram-occurrence stream, so each distribution sums to 1 over its
    // conditioning and no smoothing constant exists; per-trigram ln is
    // quantized to the 1e-6 grid before the order-free per-doc mean
    "t21_trigram_lm" -> ((s, dir) => {
      graft.ops.CorpusStats.trigramLmScore(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // per-doc top-5 TF-IDF keywords; rank key is the quantized integer
    // score so the top-k is engine-portable
    "t11_tfidf_terms" -> ((s, dir) => {
      graft.ops.CorpusStats.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 5)
        .orderBy(col("doc_id"), col("rk"))
    }),

    // model-based quality classifier (DCLM-style): positives = the
    // curated 'src0' source, negatives = a deterministic 1-in-3
    // hash-free sample of the rest (the "random crawl negatives" side);
    // train multinomial NB on the seed tokens, score EVERY doc by
    // quantized log-odds
    // CALIBRATION curve for the t15 quality gate: fixed-width score
    // bands over the gold-labeled seed rows → observed positive rate per
    // band — the reliability diagram the admission threshold is read off
    // of; fixed-width banding (not quantiles) keeps it one map-side
    // expression + a bands-sized aggregate at any corpus scale
    "t31_gate_calibration" -> ((s, dir) => {
      val d = docs(s, dir)
      val seed = d.filter(col("source") === "src0" || col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("source") === "src0").as("lab"))
      val scored = graft.ops.CorpusStats.nbQualityScore(d, "doc_id", "text", seed)
      graft.ops.CorpusStats.calibrationCurve(scored, "score_q", seed)
        .orderBy(col("bin"))
    }),

    "t15_nb_quality" -> ((s, dir) => {
      val d = docs(s, dir)
      val seed = d.filter(col("source") === "src0" || col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("source") === "src0").as("lab"))
      graft.ops.CorpusStats.nbQualityScore(d, "doc_id", "text", seed)
        .orderBy(col("doc_id"))
    }),

    // DSIR importance weights (Xie et al. 2023): target = the curated
    // 'src0' source, raw = a deterministic 1-in-3 slice of the crawl; fit
    // hashed-unigram+bigram bucket distributions once, score EVERY doc by
    // quantized log importance weight. The model is FIXED-SIZE (1024
    // buckets) — broadcastable at any corpus scale, unlike t15's
    // vocabulary-sized NB model
    "t16_dsir_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      val (model, consts) = graft.ops.CorpusStats.dsirTrain(
        d.filter(col("source") === "src0"), d.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", buckets = 1024)
      graft.ops.CorpusStats.dsirScore(d, "doc_id", "text", model, consts,
          buckets = 1024)
        .orderBy(col("doc_id"))
    }),

    // vocabulary frequency SPECTRUM (count-of-counts): how many token
    // types occur exactly f times — the Good-Turing smoothing input and
    // the Zipf-health check a corpus census starts with. Two aggs, both
    // with map-side partials: vocab-sized (term, freq), then a tiny
    // (freq, n_types) histogram — the spectrum is ≤ max-freq rows no
    // matter the corpus size
    "t18_freq_spectrum" -> ((s, dir) => {
      val tf = docs(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      tf.groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
        .orderBy(col("freq"))
    }),

    // Zipf-law fit over the FREQUENCY SPECTRUM, not the rank list: for a
    // Zipfian corpus log n_types ≈ c − a·log freq, and the spectrum is
    // distinct-frequency-sized (≪ vocabulary), so the regression never
    // needs the global rank window a log-log rank fit would pay — two
    // key-partitioned aggregates and one scalar regression fold. Slope
    // and intercept are rounded to 6 dp so the two engines' accumulation
    // orders can't drift the hash
    "t19_zipf_fit" -> ((s, dir) => {
      val tf = docs(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      tf.groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
        .agg(
          round(expr("regr_slope(ln(n_types), ln(freq))"), 6).as("zipf_slope"),
          round(expr("regr_intercept(ln(n_types), ln(freq))"), 6).as("zipf_icept"),
          count(lit(1)).as("n_pts"))
    }),

    // t17's stream twin: distinct-shingle cardinality tracked
    // INCREMENTALLY over the ingestion log — per trigger, sketch the
    // batch map-only and fold it into the standing per-source sketches
    // (KMV merge = union + re-take k smallest: commutative, associative,
    // idempotent — so NO ordering contract and no high-water mark, unlike
    // the keep-first gates). State is sources×k longs, constant in corpus
    // size; generations commit immutably with an atomic pointer flip.
    // Final sketch ≡ the batch sketch by mergeability → t17's oracle
    "s17_stream_kmv" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s17")
      val in = graft.queries.ExtendedQueries.onceLog("s17", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      graft.streaming.StreamKmv.drain(s, in, s"$work/state", s"$work/ckpt",
          groupCol = "source", k = 32)
        .orderBy(col("source"))
    }),

    // per-source distinct-shingle cardinality via the K-minimum-values
    // sketch: dedup happens INSIDE the bounded kmv_sketch buffer, so the
    // only exchange carries ≤ sources×k longs — never the (source, hash)
    // distinct shuffle an exact count(distinct) would pay. Sketch full →
    // estimate (k−1)·2⁶⁰/kth-min (deterministic md5-hash space, so the
    // estimate is bit-reproducible); sketch not full → the array IS the
    // distinct set and the count is exact
    "t17_kmv_distinct" -> ((s, dir) => {
      val k = 32
      val sk = graft.ops.CorpusStats.kmvShingleSketch(docs(s, dir), "source", "text", k)
      graft.ops.CorpusStats.kmvSummary(sk, "source", k)
        .orderBy(col("source"))
    }),

    // Gumbel-top-k importance RESAMPLING over the t16 weights: md5-derived
    // deterministic Gumbel noise + the bounded-heap global top-k — sample
    // 40 docs without replacement ∝ importance weight, bit-reproducible
    // across engines, partitionings, and reruns
    "p26_dsir_select" -> ((s, dir) => {
      val d = docs(s, dir)
      val (model, consts) = graft.ops.CorpusStats.dsirTrain(
        d.filter(col("source") === "src0"), d.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", buckets = 1024)
      val scored = graft.ops.CorpusStats.dsirScore(d, "doc_id", "text",
        model, consts, buckets = 1024)
      graft.ops.CorpusStats.dsirResample(scored, "doc_id", "logw_q", k = 40)
        .select("doc_id", "n_feats", "logw_q", "gumbel_q", "key_q", "rk")
        .orderBy(col("rk"))
    }),

    // ---- similarity search ----

    "a01_ann_brute" -> ((s, dir) => {
      val corpus = Similarity.prep(embs(s, dir), "vec_id", "embedding")
      Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 5), k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    "a02_ann_lsh" -> ((s, dir) => {
      val corpus = Similarity.prep(embs(s, dir), "vec_id", "embedding")
      Similarity.lshTopK(corpus, corpus.filter(col("vec_id") < 5), k = 3, planes = 8)
        .orderBy(col("q_id"), col("rk"))
    }),

    // JL random projection: 64 → 16 dims through a deterministic ±1
    // (Rademacher) matrix — map-only, one compiled long_dot per output
    // dim — then exact brute top-k in the reduced space. The bandwidth
    // lever AHEAD of any index: every downstream scan/shuffle/index byte
    // shrinks by dim/rDim, with no codebook to train or ship
    "a15_rp_reduce" -> ((s, dir) => {
      val corpus = Similarity.prep(embs(s, dir), "vec_id", "embedding")
      Similarity.rpTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, rDim = 16, dim = 64)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ---- text analysis ----

    // BPE tokenizer TRAINING (the other half of the p22/p23 merges-table
    // seam): corpus → (word, count) dict in ONE corpus-sized pass, then
    // 8 rounds of pair-count → deterministic argmax → fuse, each round
    // O(dict). Token sequences ride as delimiter-encoded strings so the
    // merge step is a plain string replace — portable bit-for-bit to the
    // unrolled SQL oracle (see BpeTrainer)
    "t20_bpe_train" -> ((s, dir) => {
      BpeTrainer.trainedMergesDf(s, docs(s, dir), "text", rounds = 8)
        .orderBy(col("r"))
    }),

    "t01_token_stats" -> ((s, dir) => {
      docs(s, dir).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),

    "t02_quality" -> ((s, dir) => {
      val feats = TextAnalysis.qualityFeatures(col("text"))
      docs(s, dir).select(
          (col("doc_id") +: feats.map { case (n, c) => c.as(n) }) :+
            TextAnalysis.qualityScore(col("text")).as("quality"): _*)
        .orderBy(col("doc_id"))
    }),

    // RefinedWeb site-level filtering: hosts ranked by their docs' mean
    // quality against the self-calibrating corpus-wide mean; every doc
    // gated by its HOST's verdict, under-evidenced hosts (< minDocs)
    // admitted by default. The URL fixture exercises canonicalization
    // (scheme/host case + tracking params) before the host key is cut —
    // the oracle constructs the host DIRECTLY, so a canonicalization
    // regression surfaces as a host mismatch here
    "t39_host_quality_gate" -> ((s, dir) => {
      val urls = docs(s, dir).select(col("doc_id"), col("text"),
        concat(lit("HTTPS://"), upper(col("source")),
          (col("doc_id") % 7).cast("string"),
          lit(".Example.com/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 2 === 0, lit("?utm_source=feed&x=1"))
            .otherwise(lit(""))).as("url"))
      CorpusStats.hostQualityGate(urls, "doc_id", "url", "text", minDocs = 4L)
        .orderBy(col("doc_id"))
    }),

    // SCRIPT census: per-doc counts of Latin / digit / Cyrillic / CJK /
    // Arabic codepoints (five codegen'd regex class counts in one scan)
    // + a deterministic dominant-script verdict — the multilingual
    // routing signal lang-ID needs under it (t03 assumes an alphabet;
    // this says WHICH alphabet). Fixture appends per-id non-Latin runs
    // so every class and the tie-priority is exercised
    "t24_script_census" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" "),
          expr("repeat('д', cast(doc_id % 5 as int))"),
          expr("repeat('中', cast(doc_id % 3 as int))"),
          expr("repeat('ش', cast(doc_id % 2 as int))")).as("text"))
      val latin = regexp_count(col("text"), lit("[A-Za-z]")).cast("long")
      val digit = regexp_count(col("text"), lit("[0-9]")).cast("long")
      val cyr = regexp_count(col("text"), lit("[Ѐ-ӿ]")).cast("long")
      val cjk = regexp_count(col("text"), lit("[一-鿿]")).cast("long")
      val ar = regexp_count(col("text"), lit("[؀-ۿ]")).cast("long")
      d.select(col("doc_id"),
          latin.as("n_latin"), digit.as("n_digit"), cyr.as("n_cyrillic"),
          cjk.as("n_cjk"), ar.as("n_arabic"))
        .withColumn("script",
          when(col("n_latin") === 0 && col("n_cyrillic") === 0 &&
            col("n_cjk") === 0 && col("n_arabic") === 0, "none")
          .when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_cjk") && col("n_latin") >= col("n_arabic"), "latin")
          .when(col("n_cyrillic") >= col("n_cjk") &&
            col("n_cyrillic") >= col("n_arabic"), "cyrillic")
          .when(col("n_cjk") >= col("n_arabic"), "cjk")
          .otherwise("arabic"))
        .orderBy(col("doc_id"))
    }),

    // grouped z-score standardization: per-language length z-scores —
    // the normalize-within-group step that makes one quality threshold
    // portable across a mixed corpus. Stats = one groups-sized groupBy
    // (n, Σx, Σx²) broadcast back over the scan; NO window over the
    // corpus; z = (n·x − Σx)/√(n·Σx² − Σx²), exact integers inside,
    // one double division — engine-identical
    "t23_grouped_zscore" -> ((s, dir) => {
      CorpusStats.groupedZScores(docs(s, dir), "doc_id", "lang",
          length(col("text")))
        .orderBy(col("doc_id"))
    }),

    // Flesch-style readability: words / sentence-runs / vowel-run
    // "syllables", all from three codegen'd regex counts over one scan;
    // the score surfaces as a 1e-6-quantized integer (the t11 rank-key
    // convention — raw doubles are not hash-portable), integers only
    "t22_readability" -> ((s, dir) => {
      val d = docs(s, dir).filter(length(trim(col("text"))) > 0)
      d.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
            .as("n_sents"),
          regexp_count(col("text"), lit("(?i)[aeiouy]+")).cast("long").as("n_syll"))
        .filter(col("n_words") > 0)
        .withColumn("fk_q",
          round((lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
            - lit(84.6) * (col("n_syll").cast("double") / col("n_words"))) * 1e6)
            .cast("long"))
        .orderBy(col("doc_id"))
    }),

    "t03_langid" -> ((s, dir) => {
      docs(s, dir).select(
          col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          element_at(TextAnalysis.stats(col("text")).getField("hits"), 1).as("s_en"))
        .orderBy(col("doc_id"))
    }),

    // CLASSIFIER-evaluation census: t03's language-ID against the stored
    // labels as a confusion matrix with per-truth shares (diagonal row =
    // that class's recall) — the eval every heuristic gate (t03/t15)
    // should ship with. One scan, one classes²-bounded aggregate; the
    // truth totals join is matrix-sized
    "t29_langid_confusion" -> ((s, dir) => {
      val m = docs(s, dir)
        .select(col("lang").as("truth"),
          TextAnalysis.langId(col("text")).as("pred"))
        .groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("n"))
      val tot = m.groupBy(col("truth")).agg(sum(col("n")).as("t_n"))
      m.join(tot, Seq("truth"))
        .select(col("truth"), col("pred"), col("n"),
          expr("(n * 1000000L) div t_n").as("share_q"))
        .orderBy(col("truth"), col("pred"))
    }),

    "t04_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(
          col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // PII scrub gate: the fixture text is synthetic word soup, so
    // deterministic fake PII (email/phone/IP derived from doc_id) is
    // grafted on in-query — the redaction chain is the operator
    "t08_pii_redact" -> ((s, dir) => {
      val dirty = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id"), lit("@corp.example.com"),
          lit(" at +1 555 "), col("doc_id") % 10000, lit(" 0199"),
          lit(" from 10.2."), col("doc_id") % 256, lit(".7")).as("text"))
      dirty.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // exact media dedup: identical payload bytes collapse on the content
    // hash — duplicate delivery (every 3rd payload re-ingested under a new
    // id) must fold into the originals' groups
    "m04_media_dedup" -> ((s, dir) => {
      val media = Multimodal.toMedia(docs(s, dir))
      val redelivered = media.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
      Multimodal.dedupExact(media.unionByName(redelivered))
        .orderBy(col("content_md5"))
    }),

    // grouped heavy hitters: top-5 terms per language via the bounded-heap
    // partial top-k aggregate — the shuffle after the count carries ≤
    // groups×k rows, never the vocabulary; terms ride as 60-bit hash ids
    // through the heap. The vocabulary aggregate runs ONCE (feeding only
    // the heap); winning terms are then recovered by a broadcast
    // semi-filter of the raw tokens + a recount of just those rows — a
    // map-side join and a groups×k-sized aggregate, instead of a second
    // vocabulary-wide aggregation for the join-back
    "t09_top_terms" -> ((s, dir) => {
      def toks = docs(s, dir).filter(length(trim(col("text"))) > 0)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      val top = toks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("n"), Dedup.hash60(col("w")).as("h"))
        .groupBy(col("lang"))
        .agg(graft.expr.hfunctions.topk_by(col("n").cast("double"), col("h"), 5).as("top"))
        .select(col("lang"), explode(col("top")).as("t"))
        .select(col("lang"), col("t.n_id").as("h"), col("t.rk").as("rk"))
      toks.withColumn("h", Dedup.hash60(col("w")))
        .join(broadcast(top), Seq("lang", "h"))
        .groupBy(col("lang"), col("w"), col("rk"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("w").as("term"), col("n"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // URL canonicalization dedup: tracking params, fragments and
    // scheme/host case collapse to one canonical key per logical page —
    // the crawl-side twin of the text fingerprint
    "d10_url_dedup" -> ((s, dir) => {
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("HTTPS://"), upper(col("source")), lit(".Example.com/p/"),
          col("doc_id") % 50,
          when(col("doc_id") % 2 === 0,
            concat(lit("?utm_source=feed&id="), col("doc_id") % 7))
            .otherwise(concat(lit("?id="), col("doc_id") % 7)),
          when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
      urls.select(col("doc_id"), TextAnalysis.canonicalizeUrl(col("url")).as("canon"))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
        .orderBy(col("canon"))
    }),

    // Gopher-style repetition filters: distinct-token and top-token
    // frequency ratios per document
    "t07_repetition" -> ((s, dir) => {
      val feats = TextAnalysis.repetitionFeatures(col("text"))
      docs(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // overlapping token-window chunking (document → training sequences):
    // size 100, stride 80
    "t06_chunking" -> ((s, dir) => {
      TextAnalysis.chunk(docs(s, dir), "doc_id", "text", size = 100, stride = 80)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ---- multimodal plumbing ----

    "m01_media_features" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.toMedia(docs(s, dir)))
        .orderBy(col("doc_id"))
    }),

    // REAL image decode under the oracle gate: payloads are genuine PNGs
    // generated deterministically in-query (JDK BufferedImage + ImageIO,
    // no external libs) with dimensions (1 + id%64, 1 + id%48);
    // ImageIODecoder reads the true header dims back through the same
    // per-partition decoder seam the stub uses, and the oracle predicts
    // them from the id arithmetic — the decode path itself is what's
    // under test
    "m05_real_decode" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // encode in memory, not via the disk stream cache
          it.map { id =>
            val w = 1 + (id % 64).toInt
            val h = 1 + (id % 48).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, "image/png", bos.toByteArray)
          }
        }.toDF("doc_id", "mime", "payload")
      Multimodal.extractFeatures(media, Multimodal.ImageIODecoder)
        .select(col("doc_id"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),

    // LETTERBOX detection under the oracle gate: PNGs rendered with
    // id-arithmetic black bars (top/bottom = id%5 rows, left/right =
    // id%4 cols) around a solid non-black content box; the operator
    // must recover the crop from the RASTER (the decode + border scans
    // genuinely run) while the oracle predicts it from the arithmetic
    // m16's stream twin: the batch plan maintained over the media ingest
    // stream — per-row-pure header decode + assignment, buckets-sized
    // additive counters under the HWM contract, targets derived at drain.
    // Final census == batch m16, its oracle
    "s36_stream_aspect" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s36")
      val in = graft.queries.ExtendedQueries.onceLog("s36", dir) { path =>
        val media = solidPngMedia(s, dir)
        writeLog(media, path, thirds(media, "doc_id"): _*)
      }
      graft.streaming.StreamAspect.drain(s, s"$work/agg", in, s"$work/ckpt")
        .orderBy(col("bucket_w"), col("bucket_h"))
    }),

    // m18's stream twin: per-row-pure verdicts per micro-batch (the
    // percolation family, raster edition) — drained union == batch m18
    "s37_stream_blank_gate" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s37")
      val in = graft.queries.ExtendedQueries.onceLog("s37", dir) { path =>
        val media = patternPngMedia(s, dir).unionByName(
          solidPngMedia(s, dir)
            .select((col("doc_id") + 500000L).as("doc_id"), col("mime"), col("payload")))
        writeLog(media, path, thirds(media, "doc_id"): _*)
      }
      graft.streaming.StreamBlankGate.drain(s, in, s"$work/out", s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    // BLANK-image filter: solid placeholders (ids shifted +500000) flag
    // at share 1e6; pattern renders stay below the 0.9 threshold (their
    // dominant band is max(k, 64−k)/64 ≤ 48/64). Real decode + raster
    // walk under an id-arithmetic oracle
    "m18_blank_filter" -> ((s, dir) => {
      val solids = solidPngMedia(s, dir)
        .select((col("doc_id") + 500000L).as("doc_id"), col("mime"), col("payload"))
      Multimodal.blankFilter(patternPngMedia(s, dir).unionByName(solids))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // m20's stream twin: the integrity census folded per trigger —
    // classes-sized additive counters under the HWM contract, ok_ppm
    // derived at drain; final census == batch m20, its oracle
    "s39_stream_decode_health" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s39")
      val in = graft.queries.ExtendedQueries.onceLog("s39", dir) { path =>
        val media = patternPngMedia(s, dir).select(
          col("doc_id"),
          when(col("doc_id") % 5 === 0, lit("image/x-alt"))
            .otherwise(lit("image/png")).as("mime"),
          when(col("doc_id") % 9 === 0, expr("substring(payload, 1, 8)"))
            .otherwise(col("payload")).as("payload"))
        writeLog(media, path, thirds(media, "doc_id"): _*)
      }
      graft.streaming.StreamDecodeHealth.drain(s, s"$work/agg", in, s"$work/ckpt")
        .orderBy(col("mime"))
    }),

    // DECODE-HEALTH census: ids ≡ 0 (mod 9) truncate to a broken header
    // (undecodable), ids ≡ 0 (mod 5) carry a mislabeled-but-decodable
    // mime — the per-class integrity numbers a media feed dashboards;
    // the REAL decoder judges, the oracle replays by id arithmetic
    "m20_decode_health" -> ((s, dir) => {
      val media = patternPngMedia(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0, lit("image/x-alt"))
          .otherwise(lit("image/png")).as("mime"),
        when(col("doc_id") % 9 === 0, expr("substring(payload, 1, 8)"))
          .otherwise(col("payload")).as("payload"))
      Multimodal.decodeHealth(media).orderBy(col("mime"))
    }),

    // ROTATION-invariant near-dup PAIRS: canonical hashes through the
    // pigeonhole band join — rotated classmates pair at hamming 0, and
    // the recall-1.0 layout makes the oracle plain brute force over the
    // replayed canonical hashes (m13's contract at m17's granularity)
    "m19_rotation_neardup" -> ((s, dir) => {
      Multimodal.rotationNearDupPairs(
          rotatedPatternPngMedia(s, dir).filter(col("doc_id") < 300),
          maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ROTATION-invariant perceptual dedup: ids ≡ 0 (mod 7) render their
    // class pattern rotated 90° — plain aHash (m08) splits them off;
    // the canonical min-over-orientations hash reunites every class.
    // The real codec + 4 grid walks run; the oracle replays all four
    // hashes by cell-permutation arithmetic (32×32 / grid 8 divides
    // evenly, so each rotation is an exact cell permutation)
    "m17_rotation_dedup" -> ((s, dir) => {
      Multimodal.rotationDedup(rotatedPatternPngMedia(s, dir))
        .orderBy(col("phash"))
    }),

    // ASPECT-RATIO bucket census over REAL header decode: each solid PNG's
    // true dims feed the exact-integer nearest-bucket assignment (common-
    // denominator cross-multiplication — no float ratio), the census
    // rolls up per bucket with its resize target at a 4096-px budget.
    // Dims are id-arithmetic (w=1+id%64, h=1+id%48) so the oracle replays
    // the assignment via the same integer argmin — while the real codec
    // header read runs under test
    "m16_aspect_buckets" -> ((s, dir) => {
      Multimodal.aspectBuckets(solidPngMedia(s, dir)).toDF()
        .groupBy(col("bucket_w"), col("bucket_h"))
        .agg(count(lit(1)).as("n_images"))
        .withColumn("scale",
          floor(sqrt(expr("CAST(4096 div (bucket_w * bucket_h) AS DOUBLE)"))))
        .select(col("bucket_w"), col("bucket_h"),
          (col("bucket_w") * col("scale")).cast("int").as("target_w"),
          (col("bucket_h") * col("scale")).cast("int").as("target_h"),
          col("n_images"))
        .orderBy(col("bucket_w"), col("bucket_h"))
    }),

    "m15_letterbox_crop" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val w = 16 + (id % 16).toInt
            val h = 16 + (id % 12).toInt
            val t = (id % 5).toInt
            val l = (id % 4).toInt
            val c = 1 + (id % 255).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB) // zero-init = black bars
            val rgb = (c << 16) | (c << 8) | c
            var y = t
            while (y < h - t) {
              var x = l
              while (x < w - l) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, "image/png", bos.toByteArray)
          }
        }.toDF("doc_id", "mime", "payload")
      Multimodal.detectLetterbox(media).toDF()
        .orderBy(col("doc_id"))
    }),

    // REAL image resize under the oracle gate: solid-color PNGs with
    // id-arithmetic dims and fill; any resize of a solid image is that
    // solid at the new dims, so the checksum over the RESIZED raster
    // (pixel_sum = nw*nh*3*c) is exactly predictable — while still
    // requiring the decode → scale → re-read pipeline to really run
    // perceptual media dedup: REAL PNG decode → integer block-average
    // downsample → aHash → group. The pattern fixture makes the hash
    // pure id arithmetic (cells are uniform tone, so every integer mean
    // is exact) while the codec and downsampler genuinely run; ids
    // sharing id%50 must land in one group even though their PNG BYTES
    // may differ (encoder chunking) — the thing content-md5 cannot see
    "m08_phash_dedup" -> ((s, dir) => {
      Multimodal.phashDedup(patternPngMedia(s, dir))
        .orderBy(col("phash"))
    }),

    // perceptual near-dup PAIRS: the retouched-variant case exact-hash
    // grouping splits — ids sharing id%50 render the same pattern, and
    // ids with id%7=0 get ONE grid cell flipped (a 1-bit hash delta), so
    // classmates pair at hamming 0/1/2; the pigeonhole band join finds
    // every pair in the ball (recall 1.0), so the oracle is plain
    // brute-force bit_count over the id-arithmetic hashes
    "m13_phash_neardup" -> ((s, dir) => {
      Multimodal.perceptualNearDupPairs(tweakedPngMedia(s, dir), maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ViT-style patch extraction over REAL decode: 4×4 grid, one typed
    // row per patch with exact integer grayscale sums; solid fills make
    // every patch sum pure id-arithmetic (area × fill) while the real
    // codec and raster walk run — pixels never shuffle
    "m14_patchify" -> ((s, dir) => {
      Multimodal.patchify(solidPngMedia(s, dir), grid = 4)
        .toDF()
        .orderBy(col("doc_id"), col("py"), col("px"))
    }),

    "m06_media_resize" -> ((s, dir) => {
      Multimodal.resizeImages(solidPngMedia(s, dir), maxW = 32, maxH = 32)
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // audio windowing + silence trim over REAL s16le PCM payloads
    // (synthesized deterministically in-query, decoded back through the
    // byte-level PcmS16leDecoder seam): per-window exact-integer energy
    // Σs²/peak, then each doc keeps first-loud..last-loud windows — the
    // trim scan runs on one doc's in-memory window array inside the
    // decode pass, so no window ever shuffles. Oracle replays the synth
    // formula by id-arithmetic (all integers — bit-exact)
    "m07_audio_trim" -> ((s, dir) => {
      val ids = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 300)
      Multimodal.trimSilence(Multimodal.synthPcm(ids), windowSamples = 16)
        .toDF()
        .orderBy(col("doc_id"), col("win_idx"))
    }),

    // audio CLIP MATCHING (the constellation-join shape): tracks and
    // amplitude-scaled clips synthesize deterministically as real s16le;
    // clip prints broadcast against one map-only pass over the track
    // corpus's energy-contour fingerprints, matches vote on
    // (track, offset), and the per-clip gain 1 + t%3 proves scale
    // invariance — energies scale by g², the sign contour doesn't move.
    // Oracle replays windows, contour, base-3 pack, vote, and argmax by
    // id-arithmetic
    "m12_audio_clip_match" -> ((s, dir) => {
      val (tracks, clips) = pcmClipFixture(s, dir)
      Multimodal.matchAudioClips(tracks, clips, windowSamples = 4, k = 4)
        .orderBy(col("clip_id"))
    }),

    // sample-rate conversion (3:2 downsample) with exact-integer linear
    // interpolation — the mixed-rate-corpus normalize step; resample +
    // re-window + features run on one doc's in-memory samples inside the
    // decode pass (samples never shuffle), and the all-integer kernel is
    // replayed bit-for-bit by the oracle over the synth formula
    "m10_audio_resample" -> ((s, dir) => {
      val ids = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 300)
      Multimodal.resampleWindows(Multimodal.synthPcm(ids), l = 2, m = 3,
          windowSamples = 16)
        .toDF()
        .orderBy(col("doc_id"), col("win_idx"))
    }),

    // m12 percolated: standing clip "alerts" match every arriving track
    // micro-batch — pair verdicts depend only on (one track, the frozen
    // clip set), so the drained union of per-batch outputs equals the
    // batch pair-level matcher; stateless per trigger, no watermark, no
    // state store (the s09/s16 percolation family, audio edition)
    "s23_stream_clip_percolate" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s23")
      val (tracks, clipsSrc) = pcmClipFixture(s, dir)
      // frozen clip FINGERPRINTS materialized ONCE (the s27 freeze
      // discipline): per trigger the percolator pays a small parquet
      // scan, not a clip-set decode + fingerprint pass
      val clips = graft.queries.ExtendedQueries.freeze(
        Multimodal.clipPrints(clipsSrc, windowSamples = 4, k = 4), s"$work/clips")
      writeLog(tracks, s"$work/log",
          col("doc_id") % 3 === 0, col("doc_id") % 3 === 1,
          col("doc_id") % 3 === 2)
      val outDir = s"$work/out"
      graft.streaming.Drain.run(s, s"$work/log", tracks.schema, s"$work/ckpt") { (b, _) =>
        Multimodal.clipMatchesPrepared(b, clips, windowSamples = 4, k = 4)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).orderBy(col("clip_id"), col("track_id"))
    }),

    // d22's stream twin: each arriving corpus chunk probes the FROZEN
    // benchmark for edit-level contamination — per-doc verdicts depend
    // only on (doc, benchmark), so the drained union of per-batch
    // outputs IS the batch operator; stateless per trigger (the
    // s09/s16/s23 percolation family, char-edit edition)
    "s27_stream_edit_decontaminate" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s27")
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      // frozen side PREPARED (shingled + counted) and materialized ONCE —
      // a closure-captured derivation would re-execute on every trigger,
      // and even a frozen text frame would re-shingle per trigger
      val bench = graft.queries.ExtendedQueries.freeze(
        Dedup.editBenchPrep(
          d.filter(col("doc_id") % 17 === 0)
            .withColumn("text", translate(col("text"), "e", "3")),
          "doc_id", "text", k = 8),
        s"$work/bench")
      // inverted gram index built ONCE (collect + broadcast) — the
      // per-trigger work is then a map-only probe of the arriving chunk
      val benchIdx = Dedup.editBenchIndex(bench)
      writeLog(d, s"$work/log",
          col("doc_id") % 3 === 0, col("doc_id") % 3 === 1,
          col("doc_id") % 3 === 2)
      val outDir = s"$work/out"
      graft.streaming.Drain.run(s, s"$work/log", d.schema, s"$work/ckpt") { (b, _) =>
        Dedup.editContaminationIndexed(b, benchIdx, "doc_id", "text",
            k = 8, minOverlap = 0.25, editSim = 0.8, maxDist = 200)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).orderBy(col("doc_id"), col("bench_id"))
    }),

    // streaming PERCEPTUAL admission: arriving images are rejected when
    // any earlier-id image sits within the Hamming ball of their aHash —
    // fate-independent (a rejected image still blocks its later
    // near-dups), so the verdict is a pure predicate over the id order
    // and the oracle is brute force; state = band rows, bucket-routed on
    // the band key, append-only deltas; ascending-id arrival HWM-enforced
    "s25_stream_media_gate" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s25")
      val media = tweakedPngMedia(s, dir)
      // ascending-id chunks — the enforced contract
      writeLog(media, s"$work/log",
          col("doc_id") < 100, col("doc_id") >= 100 && col("doc_id") < 200,
          col("doc_id") >= 200)
      val state = new graft.streaming.TxnLogState(s"$work/state", s, 16)
      graft.streaming.StreamMediaGate
        .drain(s, state, s"$work/log", s"$work/out", s"$work/ckpt", maxHamming = 3)
        .orderBy(col("doc_id"))
    }),

    // the multimodal path under Structured Streaming: the SAME typed
    // mapPartitions decode→resize kernel runs per micro-batch (typed ops
    // stream as-is — per-partition decoder init included); stateless, so
    // results are identical to the batch m06 and share its oracle
    "s10_stream_media_resize" -> ((s, dir) => {
      val work = graft.queries.ExtendedQueries.scratchDir("graft_s10")
      val media = solidPngMedia(s, dir)
      media.coalesce(4).write.mode("overwrite").parquet(s"$work/log")
      val q = Multimodal.resizeImages(
          s.readStream.schema(media.schema).parquet(s"$work/log"),
          maxW = 32, maxH = 32)
        .toDF()
        .writeStream
        .format("memory").queryName("s10_resize")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ckpt")
        .start()
      q.awaitTermination()
      s.table("s10_resize").orderBy(col("doc_id"))
    })
  )

  /** Clip-matching fixture: tracks = 96 md5-derived samples
    * (`hash60(t || '_' || i) mod 201 − 100` — every track genuinely
    * distinct content, unlike a shifted progression; 24 windows at 4
    * samples); clips = 40 samples of track t from sample (t%5)·8 —
    * window-aligned, so the true offset is (t%5)·2 — amplitude-scaled
    * by 1 + t%3 (stays within s16 range). Real s16le bytes round-trip
    * the decoder while every downstream number is hash-arithmetic the
    * oracle replays with the same md5. */
  private def pcmClipFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    def s16le(samples: Array[Int]): Array[Byte] = {
      val b = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        b(2 * i) = (samples(i) & 0xff).toByte
        b(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      b
    }
    def x(t: Long, i: Int): Int =
      (graft.expr.TextHash.hash60(s"${t}_$i") % 201 - 100).toInt
    val ids = docs(s, dir).select(col("doc_id").cast("long"))
      .filter(col("doc_id") < 200).as[Long]
    val tracks = ids.map { t =>
      (t, "audio/pcm-s16le", s16le(Array.tabulate(96)(i => x(t, i))))
    }.toDF("doc_id", "mime", "payload")
    val clips = ids.map { t =>
      val g = (1 + t % 3).toInt
      val s0 = ((t % 5) * 8).toInt
      (t, "audio/pcm-s16le", s16le(Array.tabulate(40)(j => g * x(t, s0 + j))))
    }.toDF("doc_id", "mime", "payload")
    (tracks, clips)
  }

  /** Deterministic solid-color PNG payloads from the documents ids —
    * dims (1+id%64, 1+id%48), fill (20+id%200) in every channel: every
    * m06/s10 output, including the resized-raster checksum, is pure id
    * arithmetic for the oracle while the real codec runs. */
  private def solidPngMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val w = 1 + (id % 64).toInt
          val h = 1 + (id % 48).toInt
          val c = 20 + (id % 200).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          try { g.setColor(new java.awt.Color(c, c, c)); g.fillRect(0, 0, w, h) }
          finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image/png", bos.toByteArray)
        }
      }.toDF("doc_id", "mime", "payload")
  }

  /** Deterministic 8×8-cell pattern PNGs (32×32 px, 4×4 px per cell):
    * cell idx carries tone 140 iff ((id%50)·31 + idx·17) % 97 < 48, else
    * 40. 17 ⊥ 97 keeps 15–48 cells high (never all/none), ids sharing
    * id%50 render the SAME image — so aHash groups are pure id
    * arithmetic for the oracle while the real PNG codec + block-average
    * downsample run under test. */
  private def patternPngMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val img = new java.awt.image.BufferedImage(32, 32,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          try {
            var idx = 0
            while (idx < 64) {
              val tone = if (((id % 50) * 31 + idx * 17) % 97 < 48) 140 else 40
              g.setColor(new java.awt.Color(tone, tone, tone))
              g.fillRect((idx % 8) * 4, (idx / 8) * 4, 4, 4)
              idx += 1
            }
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image/png", bos.toByteArray)
        }
      }.toDF("doc_id", "mime", "payload")
  }

  /** Shared by m20 (batch) and s39 (streaming fold of the same census):
    * classes and decodability by id arithmetic. */
  private val m20OracleSql: String =
    """WITH m20 AS (
      |  SELECT CASE WHEN doc_id % 5 = 0 THEN 'image/x-alt'
      |              ELSE 'image/png' END AS mime,
      |    CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS ok
      |  FROM documents)
      |SELECT mime, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(ok) AS BIGINT) AS n_decodable,
      |  CAST((sum(ok) * 1000000) // count(*) AS BIGINT) AS ok_ppm
      |FROM m20 GROUP BY mime ORDER BY mime""".stripMargin

  /** Shared by m18 (batch) and s37 (its stateless percolation twin):
    * dominant band share by cell arithmetic over the pattern + shifted-
    * solid fixture. */
  private val m18OracleSql: String =
    """WITH k18 AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN ((doc_id % 50) * 31 + idx * 17) % 97 < 48
      |      THEN 1 ELSE 0 END) AS BIGINT) AS khi
      |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS idx FROM documents)
      |  GROUP BY doc_id),
      |pat18 AS (SELECT doc_id, greatest(khi, 64 - khi) * 15625 AS share_ppm FROM k18),
      |sol18 AS (SELECT doc_id + 500000 AS doc_id,
      |            CAST(1000000 AS BIGINT) AS share_ppm FROM documents)
      |SELECT doc_id, CAST(share_ppm AS BIGINT) AS share_ppm,
      |  share_ppm >= 900000 AS blank
      |FROM (SELECT * FROM pat18 UNION ALL SELECT * FROM sol18)
      |ORDER BY doc_id""".stripMargin

  /** Shared by m16 (batch) and s36 (streaming fold of the same census):
    * exact-integer nearest-bucket assignment over id-arithmetic dims,
    * bucket census + 4096-px resize targets. */
  private val m16OracleSql: String =
    """WITH imgs AS (
      |  SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS w,
      |    CAST(1 + doc_id % 48 AS BIGINT) AS h FROM documents),
      |b(idx, bw, bh, rs) AS (VALUES
      |  (0, 1, 1, 144), (1, 4, 3, 192), (2, 3, 4, 108), (3, 16, 9, 256),
      |  (4, 9, 16, 81), (5, 3, 2, 216), (6, 2, 3, 96)),
      |d AS (
      |  SELECT doc_id, bw, bh,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY abs(144 * w - rs * h), idx) AS rn
      |  FROM imgs CROSS JOIN b),
      |c AS (SELECT bw, bh, count(*) AS n_images FROM d WHERE rn = 1 GROUP BY 1, 2)
      |SELECT CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
      |  CAST(bw * floor(sqrt(CAST(4096 // (bw * bh) AS DOUBLE))) AS INT) AS target_w,
      |  CAST(bh * floor(sqrt(CAST(4096 // (bw * bh) AS DOUBLE))) AS INT) AS target_h,
      |  n_images
      |FROM c ORDER BY bucket_w, bucket_h""".stripMargin

  /** m17 fixture: [[patternPngMedia]] with ids ≡ 0 (mod 7) rendering
    * their class pattern ROTATED 90° clockwise — rendered cell idx shows
    * the class's cell (7 − idx%8)·8 + idx/8. Plain aHash splits these
    * from their classmates; the rotation-canonical hash reunites them.
    * 32×32 at grid 8 divides evenly, so every rotation is an EXACT cell
    * permutation and the oracle replays all four hashes by idx
    * arithmetic. */
  private def rotatedPatternPngMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val img = new java.awt.image.BufferedImage(32, 32,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          try {
            var idx = 0
            while (idx < 64) {
              val srcIdx =
                if (id % 7 == 0) (7 - idx % 8) * 8 + idx / 8 else idx
              val tone = if (((id % 50) * 31 + srcIdx * 17) % 97 < 48) 140 else 40
              g.setColor(new java.awt.Color(tone, tone, tone))
              g.fillRect((idx % 8) * 4, (idx / 8) * 4, 4, 4)
              idx += 1
            }
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image/png", bos.toByteArray)
        }
      }.toDF("doc_id", "mime", "payload")
  }

  /** m13 fixture: [[patternPngMedia]] bounded to doc_id < 300 with one
    * grid cell flipped for ids with id%7 = 0 (cell id%64) — high-cell
    * counts stay within [14, 49], so the cell mean still sits strictly
    * between the two tones and the flip moves EXACTLY one aHash bit. */
  private def tweakedPngMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
      .filter(col("doc_id") < 300)
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val img = new java.awt.image.BufferedImage(32, 32,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          try {
            var idx = 0
            while (idx < 64) {
              val base = ((id % 50) * 31 + idx * 17) % 97 < 48
              val flip = id % 7 == 0 && idx == id % 64
              val tone = if (base != flip) 140 else 40
              g.setColor(new java.awt.Color(tone, tone, tone))
              g.fillRect((idx % 8) * 4, (idx / 8) * 4, 4, 4)
              idx += 1
            }
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image/png", bos.toByteArray)
        }
      }.toDF("doc_id", "mime", "payload")
  }

  /** Shared m12/s23 oracle block ending in `v` = the (clip, track,
    * offset_w, votes ≥ 2) vote rows: md5-derived samples, unrolled
    * 4-term window energies, the 5-way ratio contour, base-5 4-gram
    * pack, and the gram-join offset vote — all exact integers. */
  private val m12VoteCtes: String = {
    def energies(src: String, nw: Int) =
      s"""list_transform(generate_series(0, ${nw - 1}), w ->
         |      $src[4*w+1]*$src[4*w+1] + $src[4*w+2]*$src[4*w+2] +
         |      $src[4*w+3]*$src[4*w+3] + $src[4*w+4]*$src[4*w+4])""".stripMargin
    def contour(len: Int) =
      s"""list_transform(generate_series(1, $len), i ->
         |      CASE WHEN 2*e[i+1] < e[i] THEN 0
         |           WHEN e[i+1] < e[i] THEN 1
         |           WHEN e[i+1] = e[i] THEN 2
         |           WHEN e[i+1] <= 2*e[i] THEN 3
         |           ELSE 4 END)""".stripMargin
    val samp = h60sql("CAST(t AS VARCHAR) || '_' || CAST(i AS VARCHAR)")
    val sampJ = h60sql("CAST(t AS VARCHAR) || '_' || CAST((t % 5) * 8 + j AS VARCHAR)")
    s"""ids AS (SELECT doc_id AS t FROM documents WHERE doc_id < 200),
       |tx AS (SELECT t, list_transform(generate_series(0, 95),
       |         i -> $samp % 201 - 100) AS x FROM ids),
       |te AS (SELECT t, ${energies("x", 24)} AS e FROM tx),
       |tc AS (SELECT t, ${contour(23)} AS c FROM te),
       |tp AS (SELECT t AS track_id, p AS t_pos,
       |         c[p]*125 + c[p+1]*25 + c[p+2]*5 + c[p+3] AS h
       |       FROM (SELECT t, c, unnest(generate_series(1, 20)) AS p FROM tc)),
       |cy AS (SELECT t, list_transform(generate_series(0, 39),
       |         j -> (1 + t % 3) * ($sampJ % 201 - 100)) AS y
       |       FROM ids),
       |ce AS (SELECT t, ${energies("y", 10)} AS e FROM cy),
       |cc AS (SELECT t, ${contour(9)} AS c FROM ce),
       |cp AS (SELECT t AS clip_id, p AS c_pos,
       |         c[p]*125 + c[p+1]*25 + c[p+2]*5 + c[p+3] AS h
       |       FROM (SELECT t, c, unnest(generate_series(1, 6)) AS p FROM cc)),
       |v AS (SELECT cp.clip_id, tp.track_id, tp.t_pos - cp.c_pos AS offset_w,
       |        CAST(count(*) AS BIGINT) AS votes
       |      FROM cp JOIN tp ON cp.h = tp.h
       |      GROUP BY 1, 2, 3 HAVING count(*) >= 2)""".stripMargin
  }

  /** d22/s27: char-8-gram sets on both sides, the exact overlap bar
    * gates candidacy, DuckDB's levenshtein verifies — shared by the
    * batch operator and its stateless stream twin (per-doc verdicts are
    * pure functions of the frozen benchmark). */
  private val d22OracleSql: String = {
      def chSet(src: String) =
        s"""SELECT doc_id, text, list_distinct(list_transform(
           |    generate_series(1, length(text) - 7), i -> substr(text, i, 8))) AS s
           |  FROM $src WHERE length(text) >= 8""".stripMargin
      s"""WITH bench0 AS (
         |  SELECT doc_id, translate(text, 'e', '3') AS text
         |  FROM documents WHERE doc_id % 17 = 0),
         |cs AS (${chSet("documents")}),
         |bs AS (${chSet("bench0")}),
         |cand AS (
         |  SELECT c.doc_id, b.doc_id AS bench_id,
         |    CAST(len(list_intersect(c.s, b.s)) AS BIGINT) AS hits,
         |    c.text AS c_text, b.text AS b_text
         |  FROM cs c CROSS JOIN bs b
         |  WHERE CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) >=
         |    least(len(c.s), len(b.s)) * 0.25),
         |v AS (
         |  SELECT doc_id, bench_id, hits,
         |    CAST(levenshtein(c_text, b_text) AS BIGINT) AS dist,
         |    CAST(greatest(length(c_text), length(b_text)) AS BIGINT) AS max_len
         |  FROM cand)
         |SELECT doc_id, bench_id, hits, dist, max_len,
         |  CASE WHEN max_len = 0 THEN 1.0
         |       ELSE 1.0 - CAST(dist AS DOUBLE) / max_len END AS edit_sim
         |FROM v
         |WHERE dist <= 200 AND
         |  (CASE WHEN max_len = 0 THEN 1.0
         |        ELSE 1.0 - CAST(dist AS DOUBLE) / max_len END) >= 0.8
         |ORDER BY doc_id, bench_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(

    "d19_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' updated'
        |         WHEN doc_id % 3 = 0 THEN '  ' || text || '   '
        |         ELSE text END AS text
        |  FROM v1 WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000000, text FROM v1 WHERE doc_id % 11 = 0),
        |fa AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_a FROM v1),
        |fb AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_b FROM v2)
        |SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id,
        |  CASE WHEN fa.doc_id IS NULL THEN 'added'
        |       WHEN fb.doc_id IS NULL THEN 'deleted'
        |       WHEN fp_a <> fp_b THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id
        |ORDER BY doc_id""".stripMargin,

    // fuzzy diff: d19's corpus construction + per-id shingle Jaccard for
    // the changed class; a side too short to shingle triages as rewrite
    "d20_snapshot_fuzzy_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' updated'
        |         WHEN doc_id % 3 = 0 THEN '  ' || text || '   '
        |         WHEN doc_id % 13 = 0 THEN
        |           array_to_string(list_reverse(regexp_split_to_array(trim(text), '\s+')), ' ')
        |         ELSE text END AS text
        |  FROM v1 WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000000, text FROM v1 WHERE doc_id % 11 = 0),
        |fa AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_a,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM v1),
        |fb AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_b,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM v2),
        |sa AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM fa WHERE len(tk) >= 3),
        |sb AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM fb WHERE len(tk) >= 3),
        |ca AS (SELECT doc_id, count(*) AS c FROM sa GROUP BY doc_id),
        |cb AS (SELECT doc_id, count(*) AS c FROM sb GROUP BY doc_id),
        |iv AS (SELECT a.doc_id, count(*) AS inter
        |       FROM sa a JOIN sb b ON a.doc_id = b.doc_id AND a.s = b.s GROUP BY a.doc_id)
        |SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id,
        |  CASE WHEN fa.doc_id IS NULL THEN 'added'
        |       WHEN fb.doc_id IS NULL THEN 'deleted'
        |       WHEN fp_a = fp_b THEN 'unchanged'
        |       WHEN ca.c IS NOT NULL AND cb.c IS NOT NULL AND
        |            CAST(coalesce(iv.inter, 0) AS DOUBLE) /
        |              (CAST(ca.c + cb.c AS DOUBLE) - coalesce(iv.inter, 0)) >= 0.5
        |         THEN 'minor_edit'
        |       ELSE 'rewrite' END AS status
        |FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id
        |LEFT JOIN ca ON ca.doc_id = fa.doc_id
        |LEFT JOIN cb ON cb.doc_id = fb.doc_id
        |LEFT JOIN iv ON iv.doc_id = fa.doc_id
        |ORDER BY doc_id""".stripMargin,

    "d01_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, '  ' || text || '   ' FROM documents),
        |fp AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM all_docs)
        |SELECT fp, min(doc_id) AS keeper, count(*) AS group_size
        |FROM fp GROUP BY fp ORDER BY fp""".stripMargin,

    "d02_jaccard_pairs" ->
      s"""WITH $shingleCte,
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, inter, ca.c + cb.c - inter AS uni,
         |  CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) AS jaccard
         |FROM p JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "d03_minhash_sig" ->
      s"""WITH $shingleCte
         |SELECT doc_id, $minhashCols
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d04_lsh_pairs" -> {
      val bandKeys = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      s"""WITH $shingleCte,
         |sig AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, unnest([$bandKeys]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id, inter, ca.c + cb.c - inter AS uni,
         |  CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) AS jaccard
         |FROM p JOIN cand ON p.a_id = cand.a_id AND p.b_id = cand.b_id
         |  JOIN cnt ca ON p.a_id = ca.doc_id JOIN cnt cb ON p.b_id = cb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5
         |ORDER BY p.a_id, p.b_id""".stripMargin
    },

    // d21: d04's band-candidate CTEs over the suffixed-copy corpus, then
    // verification = DuckDB's own levenshtein — dist and max_len are
    // exact integers, edit_sim one double division, engine-identical
    "d21_edit_neardup" -> {
      val bandKeysSql = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 300000, text || ' ok' FROM documents),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM all_docs),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM tok WHERE len(tk) >= 3),
         |sig AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
         |banded AS (SELECT doc_id, unnest([$bandKeysSql]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |v AS (
         |  SELECT c.a_id, c.b_id,
         |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist,
         |    CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
         |  FROM cand c JOIN all_docs ta ON ta.doc_id = c.a_id
         |              JOIN all_docs tb ON tb.doc_id = c.b_id)
         |SELECT a_id, b_id, dist, max_len,
         |  CASE WHEN max_len = 0 THEN 1.0
         |       ELSE 1.0 - CAST(dist AS DOUBLE) / max_len END AS edit_sim
         |FROM v
         |WHERE dist <= 200 AND
         |  (CASE WHEN max_len = 0 THEN 1.0
         |        ELSE 1.0 - CAST(dist AS DOUBLE) / max_len END) >= 0.9
         |ORDER BY a_id, b_id""".stripMargin
    },

    "d22_edit_decontamination" -> d22OracleSql,

    // d24: corpus/batch construction + the same overlap-bar candidacy on
    // both the cross side and the earlier-id self side, levenshtein
    // verification, fate-independent rejection
    "d24_edit_admission" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |corpus0 AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 0),
        |batch0 AS (
        |  SELECT doc_id, text FROM d WHERE doc_id % 20 = 1
        |  UNION ALL
        |  SELECT doc_id + 500000, translate(text, 'e', '3') FROM d WHERE doc_id % 30 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000, text || ' ok' FROM d WHERE doc_id % 50 = 1),
        |cs0 AS (SELECT doc_id, text, list_filter(list_distinct(list_transform(
        |    generate_series(1, length(text) - 7), i -> substr(text, i, 8))),
        |    g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4 = 0) AS s
        |  FROM corpus0 WHERE length(text) >= 8),
        |cs AS (SELECT * FROM cs0 WHERE len(s) > 0),
        |bs0 AS (SELECT doc_id, text, list_filter(list_distinct(list_transform(
        |    generate_series(1, length(text) - 7), i -> substr(text, i, 8))),
        |    g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4 = 0) AS s
        |  FROM batch0 WHERE length(text) >= 8),
        |bs AS (SELECT * FROM bs0 WHERE len(s) > 0),
        |candc AS (
        |  SELECT c.text AS blk_text, b.doc_id AS b_id, b.text AS b_text
        |  FROM cs c CROSS JOIN bs b
        |  WHERE CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) >=
        |    least(len(c.s), len(b.s)) * 0.25),
        |cands AS (
        |  SELECT a.text AS blk_text, b.doc_id AS b_id, b.text AS b_text
        |  FROM bs a JOIN bs b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) >=
        |    least(len(a.s), len(b.s)) * 0.25),
        |v AS (
        |  SELECT b_id FROM (SELECT * FROM candc UNION ALL SELECT * FROM cands)
        |  WHERE levenshtein(blk_text, b_text) <= 200 AND
        |    (CASE WHEN greatest(length(blk_text), length(b_text)) = 0 THEN 1.0
        |          ELSE 1.0 - CAST(levenshtein(blk_text, b_text) AS DOUBLE) /
        |               greatest(length(blk_text), length(b_text)) END) >= 0.8),
        |rej AS (SELECT DISTINCT b_id FROM v)
        |SELECT b.doc_id, (r.b_id IS NULL) AS admitted
        |FROM batch0 b LEFT JOIN rej r ON r.b_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // s27 = d22 per micro-batch against the frozen benchmark: verdicts
    // are per-doc pure, so the drained union equals the batch operator
    "s27_stream_edit_decontaminate" -> d22OracleSql,


    // host key constructed DIRECTLY (lower(source) || doc_id%7 ||
    // '.example.com') — the Spark side derives it from the canonicalized
    // URL, so tracking-param / case / host-extraction regressions
    // surface as host mismatches; quality replays t02's feature SQL;
    // all verdict math integer on the ppm grid (// == div: nonnegative)
    "t39_host_quality_gate" -> {
      val en = TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH f39 AS (
         |  SELECT doc_id,
         |    lower(source) || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |q39 AS (
         |  SELECT doc_id, host,
         |    CAST(round(least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
         |      )) * 1000000) AS BIGINT) AS q_ppm
         |  FROM f39),
         |h39 AS (SELECT host, CAST(count(*) AS BIGINT) AS host_docs,
         |          CAST(sum(q_ppm) AS BIGINT) AS sq FROM q39 GROUP BY host),
         |g39h AS (SELECT CAST(sum(sq) AS BIGINT) // CAST(sum(host_docs) AS BIGINT) AS g_ppm
         |         FROM h39),
         |v39 AS (SELECT host, host_docs, sq // host_docs AS host_q_ppm,
         |          (host_docs < 4 OR sq // host_docs >= g_ppm) AS admitted
         |        FROM h39 CROSS JOIN g39h)
         |SELECT q39.doc_id AS doc_id, q39.host AS host, v39.host_docs AS host_docs,
         |  v39.host_q_ppm AS host_q_ppm, v39.admitted AS admitted
         |FROM q39 JOIN v39 USING (host) ORDER BY doc_id""".stripMargin
    },

    // the line filter and every Gopher ratio re-derived from the same
    // split/regex primitives; ratios are single double divisions of
    // exact integer counts, so the bitmask is bit-identical
    "t14_c4_gopher" -> {
      val en = TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH synth AS (
         |  SELECT d.doc_id,
         |    d.text || '.' || chr(10) || 'click here' || chr(10) ||
         |    'menu { color: red } javascript' || chr(10) || s.text || ' right?' AS text
         |  FROM documents d JOIN documents s ON s.doc_id = d.doc_id + 1),
         |ln AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM synth),
         |kept AS (
         |  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
         |    list_filter(lines, l ->
         |      regexp_matches(trim(l), '[.!?"]$$')
         |      AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3
         |      AND NOT contains(lower(l), 'lorem ipsum')
         |      AND NOT contains(lower(l), 'javascript')
         |      AND NOT contains(lower(l), '{')
         |      AND NOT contains(lower(l), '}')) AS kl
         |  FROM ln),
         |c AS (
         |  SELECT doc_id, n_lines, CAST(len(kl) AS BIGINT) AS n_kept,
         |    array_to_string(kl, chr(10)) AS clean_text
         |  FROM kept),
         |f AS (
         |  SELECT doc_id, n_lines, n_kept, clean_text,
         |    CAST(length(clean_text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\\s+'),
         |      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
         |    CAST(len(regexp_extract_all(clean_text, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
         |    CAST(len(string_split(clean_text, chr(10))) AS BIGINT) AS n_clean_lines,
         |    CAST(len(list_filter(string_split(clean_text, chr(10)),
         |      l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(string_split(clean_text, chr(10)),
         |      l -> regexp_matches(trim(l), '\\.\\.\\.$$'))) AS BIGINT) AS n_ellipsis,
         |    CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM c),
         |g AS (
         |  SELECT doc_id, n_lines, n_kept, clean_text, n_tokens,
         |    CAST(
         |      (CASE WHEN n_tokens < 50 OR n_tokens > 100000 THEN 1 ELSE 0 END)
         |      + (CASE WHEN (CASE WHEN n_tokens > 0
         |            THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens ELSE 0.0 END) < 3.0
         |          OR (CASE WHEN n_tokens > 0
         |            THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens ELSE 0.0 END) > 10.0
         |          THEN 2 ELSE 0 END)
         |      + (CASE WHEN (CASE WHEN n_tokens > 0
         |            THEN CAST(n_symbols AS DOUBLE) / n_tokens ELSE 0.0 END) > 0.1
         |          THEN 4 ELSE 0 END)
         |      + (CASE WHEN (CASE WHEN n_clean_lines > 0
         |            THEN CAST(n_bullet AS DOUBLE) / n_clean_lines ELSE 0.0 END) > 0.9
         |          THEN 8 ELSE 0 END)
         |      + (CASE WHEN (CASE WHEN n_clean_lines > 0
         |            THEN CAST(n_ellipsis AS DOUBLE) / n_clean_lines ELSE 0.0 END) > 0.3
         |          THEN 16 ELSE 0 END)
         |      + (CASE WHEN (CASE WHEN n_tokens > 0
         |            THEN CAST(n_alpha_words AS DOUBLE) / n_tokens ELSE 0.0 END) < 0.8
         |          THEN 32 ELSE 0 END)
         |      + (CASE WHEN n_stop < 2 THEN 64 ELSE 0 END)
         |    AS BIGINT) AS rule_bits
         |  FROM f)
         |SELECT doc_id, n_lines, n_kept, clean_text, n_tokens, rule_bits,
         |  CAST(CASE WHEN rule_bits = 0 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
         |FROM g ORDER BY doc_id""".stripMargin
    },

    // the asymmetric candidate join re-derived: batch bands against
    // corpus bands plus the batch's internal lower-id self-join —
    // corpus x corpus pairs never exist in either engine
    "d17_incremental_dedup" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |batch AS (
         |  SELECT d.doc_id, s.text || ' zz' AS text
         |  FROM documents d JOIN documents s ON s.doc_id = d.doc_id + 1
         |  WHERE d.doc_id % 5 = 0 AND d.doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text || ' yy' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |${admissionBlockSql("")}
         |SELECT doc_id, n_corpus_dups, n_batch_dups, best_jaccard, kept
         |FROM res ORDER BY doc_id""".stripMargin,

    // two admission rounds against the PERSISTED index: round 1 = d17's
    // corpus-vs-increment gate; the admitted slice appends; round 2's
    // second-generation copies then reject AS CORPUS DUPS (the appended
    // docs gate them), while the word-reversed probes stay novel —
    // the oracle replays both rounds, round 2's corpus = corpus ∪
    // round-1 admits
    "d18_neardup_index" ->
      s"""WITH r1corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |r1batch AS (
         |  SELECT d.doc_id, s.text || ' zz' AS text
         |  FROM documents d JOIN documents s ON s.doc_id = d.doc_id + 1
         |  WHERE d.doc_id % 5 = 0 AND d.doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |${admissionBlockSql("r1")},
         |r2corpus AS (
         |  SELECT doc_id, text FROM r1corpus
         |  UNION ALL
         |  SELECT b.doc_id, b.text FROM r1batch b
         |  JOIN r1res r ON b.doc_id = r.doc_id WHERE r.kept = 1),
         |r2batch AS (
         |  SELECT doc_id + 1000000 AS doc_id, text || ' yy' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |    array_to_string(list_transform(
         |      generate_series(len(tk), 1, -1), i -> tk[i]), ' ') AS text
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         |        FROM documents WHERE doc_id % 10 = 1)),
         |${admissionBlockSql("r2")}
         |SELECT CAST(1 AS BIGINT) AS round, doc_id, n_corpus_dups,
         |  n_batch_dups, best_jaccard, kept FROM r1res
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS round, doc_id, n_corpus_dups,
         |  n_batch_dups, best_jaccard, kept FROM r2res
         |ORDER BY round, doc_id""".stripMargin,

    // the round-9 chain replayed as one statement: the t14 line-filter/
    // gate blocks, the d17 asymmetric admission blocks (batch := the
    // gated increment), and the p22 budget cumsum — CTE concatenation
    // of the single-op oracles
    "p24_incremental_ingest" -> {
      val en = TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      val bandKeysSql = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      val bpe = graft.ops.RegexBpeTokenizer.countSql("clean_text")
      s"""WITH corpus AS (
         |  SELECT doc_id, text AS clean_text FROM documents WHERE doc_id % 5 <> 0),
         |inc AS (
         |  SELECT d.doc_id, s.text || ' zz' AS payload
         |  FROM documents d JOIN documents s ON s.doc_id = d.doc_id + 1
         |  WHERE d.doc_id % 5 = 0 AND d.doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, text AS payload FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text || ' yy' AS payload
         |  FROM documents WHERE doc_id % 10 = 0),
         |pages AS (
         |  SELECT doc_id, payload || '.' || chr(10) || 'click here' || chr(10) ||
         |    'menu { color: red } javascript' AS text
         |  FROM inc),
         |kept AS (
         |  SELECT doc_id, list_filter(string_split(text, chr(10)), l ->
         |      regexp_matches(trim(l), '[.!?"]$$')
         |      AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3
         |      AND NOT contains(lower(l), 'lorem ipsum')
         |      AND NOT contains(lower(l), 'javascript')
         |      AND NOT contains(lower(l), '{')
         |      AND NOT contains(lower(l), '}')) AS kl
         |  FROM pages),
         |cl AS (SELECT doc_id, array_to_string(kl, chr(10)) AS clean_text FROM kept),
         |gf AS (
         |  SELECT doc_id, clean_text,
         |    CAST(length(clean_text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\\s+'),
         |      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
         |    CAST(len(regexp_extract_all(clean_text, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
         |    CAST(len(string_split(clean_text, chr(10))) AS BIGINT) AS n_clean_lines,
         |    CAST(len(list_filter(string_split(clean_text, chr(10)),
         |      l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(string_split(clean_text, chr(10)),
         |      l -> regexp_matches(trim(l), '\\.\\.\\.$$'))) AS BIGINT) AS n_ellipsis,
         |    CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM cl),
         |gated AS (
         |  SELECT doc_id, clean_text FROM gf
         |  WHERE NOT (n_tokens < 20 OR n_tokens > 100000)
         |    AND (CASE WHEN n_tokens > 0
         |      THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens ELSE 0.0 END)
         |      BETWEEN 3.0 AND 10.0
         |    AND (CASE WHEN n_tokens > 0
         |      THEN CAST(n_symbols AS DOUBLE) / n_tokens ELSE 0.0 END) <= 0.1
         |    AND (CASE WHEN n_clean_lines > 0
         |      THEN CAST(n_bullet AS DOUBLE) / n_clean_lines ELSE 0.0 END) <= 0.9
         |    AND (CASE WHEN n_clean_lines > 0
         |      THEN CAST(n_ellipsis AS DOUBLE) / n_clean_lines ELSE 0.0 END) <= 0.3
         |    AND (CASE WHEN n_tokens > 0
         |      THEN CAST(n_alpha_words AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.8
         |    AND n_stop >= 2),
         |ctok AS (SELECT doc_id, regexp_split_to_array(trim(clean_text), '\\s+') AS tk FROM corpus),
         |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM ctok WHERE len(tk) >= 3),
         |btok AS (SELECT doc_id, regexp_split_to_array(trim(clean_text), '\\s+') AS tk FROM gated),
         |bsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM btok WHERE len(tk) >= 3),
         |csig AS (SELECT doc_id, $minhashCols FROM csh GROUP BY doc_id),
         |bsig AS (SELECT doc_id, $minhashCols FROM bsh GROUP BY doc_id),
         |cband0 AS (SELECT doc_id, unnest([$bandKeysSql]) AS band_key FROM csig),
         |cbdf AS (SELECT band_key FROM cband0 GROUP BY band_key HAVING count(*) <= 64),
         |cband AS (SELECT c.doc_id, c.band_key FROM cband0 c
         |  JOIN cbdf f ON c.band_key = f.band_key),
         |bband AS (SELECT doc_id, unnest([$bandKeysSql]) AS band_key FROM bsig),
         |cand_c AS (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS o_id
         |  FROM bband b JOIN cband c ON b.band_key = c.band_key),
         |cand_b AS (SELECT DISTINCT b.doc_id AS b_id, o.doc_id AS o_id
         |  FROM bband b JOIN bband o ON b.band_key = o.band_key AND o.doc_id < b.doc_id),
         |ccnt AS (SELECT doc_id, count(*) AS c FROM csh GROUP BY doc_id),
         |bcnt AS (SELECT doc_id, count(*) AS c FROM bsh GROUP BY doc_id),
         |hit_c AS (
         |  SELECT p.b_id, p.o_id, count(*) AS inter
         |  FROM cand_c p
         |  JOIN bsh b ON b.doc_id = p.b_id
         |  JOIN csh c ON c.doc_id = p.o_id AND c.s = b.s
         |  GROUP BY 1, 2),
         |ver_c AS (
         |  SELECT h.b_id
         |  FROM hit_c h JOIN bcnt bb ON h.b_id = bb.doc_id JOIN ccnt cc ON h.o_id = cc.doc_id
         |  WHERE CAST(h.inter AS DOUBLE) / (bb.c + cc.c - h.inter) >= 0.5),
         |hit_b AS (
         |  SELECT p.b_id, p.o_id, count(*) AS inter
         |  FROM cand_b p
         |  JOIN bsh b ON b.doc_id = p.b_id
         |  JOIN bsh o ON o.doc_id = p.o_id AND o.s = b.s
         |  GROUP BY 1, 2),
         |ver_b AS (
         |  SELECT h.b_id
         |  FROM hit_b h JOIN bcnt bb ON h.b_id = bb.doc_id JOIN bcnt oo ON h.o_id = oo.doc_id
         |  WHERE CAST(h.inter AS DOUBLE) / (bb.c + oo.c - h.inter) >= 0.5),
         |rej AS (SELECT DISTINCT b_id FROM (
         |  SELECT b_id FROM ver_c UNION ALL SELECT b_id FROM ver_b)),
         |adm AS (
         |  SELECT g.doc_id, g.clean_text
         |  FROM gated g LEFT JOIN rej ON g.doc_id = rej.b_id
         |  WHERE rej.b_id IS NULL),
         |feat AS (
         |  SELECT doc_id,
         |    CAST(length(clean_text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END AS BIGINT) AS n_ws,
         |    $bpe AS n_tokens,
         |    CAST(len(regexp_extract_all(clean_text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM adm),
         |dq AS (
         |  SELECT doc_id, n_tokens,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_ws > 0 THEN CAST(n_stop AS DOUBLE) / n_ws ELSE 0.0 END))) AS q
         |  FROM feat),
         |o AS (
         |  SELECT doc_id, n_tokens, q,
         |    sum(n_tokens) OVER (ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM dq)
         |SELECT doc_id, n_tokens, q FROM o WHERE cum <= 1500 ORDER BY doc_id""".stripMargin
    },

    "d09_jaccard_maxdf" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text || ' the quick brown fox jumps over the lazy dog' AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM docs2),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM tok WHERE len(tk) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |df AS (SELECT s, count(*) AS d FROM sh GROUP BY s),
        |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN df ON sh.s = df.s WHERE df.d <= 100),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter, ca.c + cb.c - inter AS uni,
        |  CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) AS jaccard
        |FROM p JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    "d05_simhash" -> {
      val bitSum = (0 until 60).map { j =>
        s"(CASE WHEN sum(((hv >> $j) & 1) * 2 - 1) > 0 THEN CAST(1 AS BIGINT) << $j ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |h AS (SELECT doc_id, ${h60sql("w")} AS hv FROM t)
         |SELECT doc_id, $bitSum AS simhash
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "d11_simhash_pairs" -> {
      val bitSum = (0 until 60).map { j =>
        s"(CASE WHEN sum(((hv >> $j) & 1) * 2 - 1) > 0 THEN CAST(1 AS BIGINT) << $j ELSE 0 END)"
      }.mkString(" + ")
      val firstEq = (0 until 4).map { b =>
        s"WHEN ((xor(a_sh, b_sh) >> ${b * 15}) & 32767) = 0 THEN $b"
      }.mkString("CASE ", " ", " END")
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000, '  ' || text || '   ' FROM documents),
         |t AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM base WHERE length(trim(text)) > 0),
         |h AS (SELECT doc_id, ${h60sql("w")} AS hv FROM t),
         |s AS (SELECT doc_id, $bitSum AS sh FROM h GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS band FROM s),
         |keyed AS (SELECT doc_id, sh, band, (sh >> (band * 15)) & 32767 AS key FROM banded),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS a_sh, b.sh AS b_sh, a.band
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
         |    AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS BIGINT) AS hamming
         |FROM p
         |WHERE band = ($firstEq) AND bit_count(xor(a_sh, b_sh)) <= 3
         |ORDER BY a_id, b_id""".stripMargin
    },

    "d12_containment" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, text || ' xx yy zz qq ww ee rr tt' FROM documents),
        |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM base),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM tok WHERE len(tk) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |dfq AS (SELECT s, count(*) AS d FROM sh GROUP BY s),
        |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq ON sh.s = dfq.s WHERE dfq.d <= 100),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT a_id AS src, b_id AS dst, inter FROM p
        |  UNION ALL SELECT b_id, a_id, inter FROM p)
        |SELECT d.src AS a_id, d.dst AS b_id, inter, c AS n_a,
        |  CAST(inter AS DOUBLE) / c AS containment
        |FROM d JOIN cnt ON d.src = cnt.doc_id
        |WHERE CAST(inter AS DOUBLE) / c >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,

    // identical to d12 except cnt counts POST-cap shingles (from shf, not
    // sh) — the capAdjusted denominator
    "d13_containment_boiler" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, text || ' xx yy zz qq ww ee rr tt' FROM documents),
        |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM base),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM tok WHERE len(tk) >= 3),
        |dfq AS (SELECT s, count(*) AS d FROM sh GROUP BY s),
        |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq ON sh.s = dfq.s WHERE dfq.d <= 100),
        |cnt AS (SELECT doc_id, count(*) AS c FROM shf GROUP BY doc_id),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT a_id AS src, b_id AS dst, inter FROM p
        |  UNION ALL SELECT b_id, a_id, inter FROM p)
        |SELECT d.src AS a_id, d.dst AS b_id, inter, c AS n_a,
        |  CAST(inter AS DOUBLE) / c AS containment
        |FROM d JOIN cnt ON d.src = cnt.doc_id
        |WHERE CAST(inter AS DOUBLE) / c >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,

    "p07_quota_sample" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
         |  FROM documents)
         |SELECT doc_id, lang FROM r
         |WHERE rk <= CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 25
         |  WHEN 'fr' THEN 20 WHEN 'es' THEN 25 WHEN 'zh' THEN 30
         |  ELSE 9223372036854775807 END
         |ORDER BY doc_id""".stripMargin,

    // the whole chain replayed: p10's keep-first CTEs → p09's
    // water-filling → p11's tape window, one SQL statement
    "p12_curation_pack" ->
      s"""WITH sd AS (
         |  SELECT a.doc_id,
         |    a.text || chr(10) || 'subscribe to our newsletter for updates'
         |      || chr(10) || b.text AS text
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |pr AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(string_split(text, chr(10)))),
         |      i -> {'idx': i, 'para': string_split(text, chr(10))[i]})) AS u
         |  FROM sd),
         |paras AS (
         |  SELECT doc_id, u.idx AS idx, u.para AS para FROM pr
         |  WHERE length(trim(u.para)) > 0),
         |wn AS (
         |  SELECT doc_id, idx, para FROM (
         |    SELECT doc_id, idx, para, row_number() OVER (
         |      PARTITION BY md5(regexp_replace(lower(trim(para)), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id, idx) AS krk
         |    FROM paras)
         |  WHERE krk = 1),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS clean_text
         |  FROM wn GROUP BY doc_id),
         |cleaned AS (
         |  SELECT r.doc_id, d.lang, r.clean_text
         |  FROM rebuilt r JOIN documents d USING (doc_id)),
         |w2(lang, wt) AS (VALUES ('en', 4), ('de', 2), ('fr', 1), ('es', 1)),
         |sz AS (SELECT lang, count(*) AS n FROM cleaned
         |       WHERE lang IN (SELECT lang FROM w2) GROUP BY lang),
         |t AS (SELECT min(coalesce(sz.n, 0) * 8 // w2.wt) AS tt
         |      FROM w2 LEFT JOIN sz USING (lang)),
         |q AS (SELECT w2.lang, w2.wt * t.tt // 8 AS quota FROM w2 CROSS JOIN t),
         |rnk AS (
         |  SELECT doc_id, lang, clean_text,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
         |  FROM cleaned WHERE lang IN (SELECT lang FROM w2)),
         |bal AS (SELECT doc_id, lang, clean_text FROM rnk JOIN q USING (lang)
         |        WHERE rk <= quota),
         |cnt AS (
         |  SELECT doc_id, lang,
         |    CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    ${h60sql("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM bal),
         |tp AS (SELECT * FROM cnt WHERE n_tokens > 0),
         |o AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM tp)
         |SELECT doc_id, lang, n_tokens, start_off,
         |  start_off // 256 AS seq_first,
         |  (start_off + n_tokens - 1) // 256 AS seq_last
         |FROM o ORDER BY doc_id""".stripMargin,

    // the whole round-7 chain replayed: d15's keep-first cover-mask CTEs
    // → p14's exact bipartite-Jaccard flag → p13's sqrt-weight
    // water-filling → p11's tape window, one SQL statement
    "p15_span_curation_pack" -> {
      val k = 8
      val gram = (0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH dd AS (SELECT doc_id, text, lang FROM documents),
         |bench AS (SELECT doc_id, text FROM dd WHERE doc_id < 50),
         |base AS (SELECT doc_id, text FROM dd WHERE doc_id >= 50),
         |synth AS (
         |  SELECT a.doc_id, a.text || ' ' || b.text AS text
         |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
         |  UNION ALL
         |  SELECT doc_id + 600000, text || ' uu vv ww' FROM bench),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM synth),
         |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'pos': i, 'h': ${h60sql(gram)}})) AS u
         |        FROM tok WHERE len(tk) >= $k),
         |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
         |krk AS (SELECT doc_id, pos,
         |          row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS r FROM kg),
         |dup AS (SELECT doc_id, pos FROM krk WHERE r > 1),
         |tks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)),
         |          i -> {'j': i, 'w': tk[i]})) AS u FROM tok),
         |toks AS (SELECT doc_id, u.j AS j, u.w AS w FROM tks),
         |rem AS (SELECT DISTINCT t.doc_id, t.j FROM toks t JOIN dup dp
         |        ON dp.doc_id = t.doc_id AND t.j >= dp.pos AND t.j <= dp.pos + ${k - 1}),
         |cleaned AS (
         |  SELECT t.doc_id,
         |    coalesce(string_agg(t.w, ' ' ORDER BY t.j) FILTER (WHERE r.j IS NULL), '')
         |      AS clean_text,
         |    count(*) - count(r.j) AS n_kept
         |  FROM toks t LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.j = t.j
         |  GROUP BY t.doc_id),
         |surv AS (SELECT doc_id, clean_text FROM cleaned WHERE n_kept > 0),
         |ctok AS (SELECT doc_id, regexp_split_to_array(trim(clean_text), '\\s+') AS tk FROM surv),
         |csh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM ctok WHERE len(tk) >= 3),
         |cn AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
         |btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM bench),
         |bsh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM btok WHERE len(tk) >= 3),
         |bn AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
         |pp AS (
         |  SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS inter
         |  FROM csh c JOIN bsh b ON c.s = b.s GROUP BY 1, 2),
         |flagged AS (
         |  SELECT DISTINCT pp.doc_id
         |  FROM pp JOIN cn ON pp.doc_id = cn.doc_id JOIN bn ON pp.bench_id = bn.doc_id
         |  WHERE CAST(pp.inter AS DOUBLE) / (cn.n + bn.n - pp.inter) >= 0.5),
         |decon AS (
         |  SELECT sv.doc_id, dd.lang, sv.clean_text
         |  FROM surv sv JOIN dd ON sv.doc_id = dd.doc_id
         |  WHERE sv.doc_id NOT IN (SELECT doc_id FROM flagged)),
         |sz AS (SELECT lang, count(*) AS n FROM decon GROUP BY lang),
         |w2 AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM sz),
         |ww AS (SELECT sum(wt) AS wsum FROM w2),
         |t2 AS (SELECT min(w2.n * ww.wsum // w2.wt) AS tt FROM w2 CROSS JOIN ww),
         |q2 AS (SELECT w2.lang, w2.wt * t2.tt // ww.wsum AS quota
         |       FROM w2 CROSS JOIN t2 CROSS JOIN ww),
         |rnk AS (
         |  SELECT doc_id, lang, clean_text,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk2
         |  FROM decon),
         |bal AS (SELECT doc_id, lang, clean_text FROM rnk JOIN q2 USING (lang)
         |        WHERE rk2 <= quota),
         |cnt AS (
         |  SELECT doc_id, lang,
         |    CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    ${h60sql("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM bal),
         |tp AS (SELECT * FROM cnt WHERE n_tokens > 0),
         |o AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM tp)
         |SELECT doc_id, lang, n_tokens, start_off,
         |  start_off // 256 AS seq_first,
         |  (start_off + n_tokens - 1) // 256 AS seq_last
         |FROM o ORDER BY doc_id""".stripMargin
    },

    // tape replica: one window cumsum in (hash, id) order — the oracle
    // CAN afford the global sort the Spark side avoids via bucketing
    "p11_sequence_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    ${h60sql("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |t AS (SELECT * FROM d WHERE n_tokens > 0),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM t)
         |SELECT doc_id, n_tokens, start_off,
         |  start_off // 512 AS seq_first,
         |  (start_off + n_tokens - 1) // 512 AS seq_last
         |FROM o ORDER BY doc_id""".stripMargin,

    "p23_sequence_pack_subword" ->
      s"""WITH d AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS doc_id,
         |    ${graft.ops.MergesBpeTokenizer.segmentCountSql("c_mktsegment")}
         |      + CAST(length(CAST(c_custkey AS VARCHAR)) AS BIGINT) AS n_tokens,
         |    ${h60sql("CAST(c_custkey AS VARCHAR)")} AS h
         |  FROM customer),
         |t AS (SELECT * FROM d WHERE n_tokens > 0),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM t)
         |SELECT doc_id, n_tokens, start_off,
         |  start_off // 64 AS seq_first,
         |  (start_off + n_tokens - 1) // 64 AS seq_last
         |FROM o ORDER BY doc_id""".stripMargin,

    "p17_sequence_pack_bpe" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    ${graft.ops.RegexBpeTokenizer.countSql("text")} AS n_tokens,
         |    ${h60sql("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |t AS (SELECT * FROM d WHERE n_tokens > 0),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM t)
         |SELECT doc_id, n_tokens, start_off,
         |  start_off // 512 AS seq_first,
         |  (start_off + n_tokens - 1) // 512 AS seq_last
         |FROM o ORDER BY doc_id""".stripMargin,

    // per-doc keep-first replica via DuckDB's indexed list lambdas
    "t12_line_dedup" ->
      """WITH sd AS (
        |  SELECT a.doc_id,
        |    a.text || chr(10) || a.text || chr(10) || b.text AS text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |p AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS paras
        |  FROM sd),
        |f AS (
        |  SELECT doc_id, paras,
        |    list_transform(paras,
        |      x -> md5(regexp_replace(lower(trim(x)), '\s+', ' ', 'g'))) AS fps
        |  FROM p)
        |SELECT doc_id,
        |  CAST(len(paras) AS BIGINT) AS n_paras,
        |  CAST(len(list_filter(paras, (x, i) -> list_position(fps, fps[i]) = i)) AS BIGINT) AS n_kept,
        |  array_to_string(list_filter(paras, (x, i) -> list_position(fps, fps[i]) = i), chr(10)) AS clean_text
        |FROM f ORDER BY doc_id""".stripMargin,

    // keep-first replica: row_number over the canonical fingerprint
    // ordered by (doc_id, position), rebuild via ordered string_agg
    "p10_paragraph_dedup" ->
      """WITH sd AS (
        |  SELECT a.doc_id,
        |    a.text || chr(10) || 'subscribe to our newsletter for updates'
        |      || chr(10) || b.text AS text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |pr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(string_split(text, chr(10)))),
        |      i -> {'idx': i, 'para': string_split(text, chr(10))[i]})) AS u
        |  FROM sd),
        |paras AS (
        |  SELECT doc_id, u.idx AS idx, u.para AS para FROM pr
        |  WHERE length(trim(u.para)) > 0),
        |w AS (
        |  SELECT doc_id, idx, para FROM (
        |    SELECT doc_id, idx, para, row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(para)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id, idx) AS rk
        |    FROM paras)
        |  WHERE rk = 1),
        |rebuilt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(para, chr(10) ORDER BY idx) AS clean_text
        |  FROM w GROUP BY doc_id),
        |np AS (
        |  SELECT doc_id, CAST(len(list_filter(string_split(text, chr(10)),
        |    p -> length(trim(p)) > 0)) AS BIGINT) AS n_paras
        |  FROM sd)
        |SELECT np.doc_id, np.n_paras,
        |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(r.clean_text, '') AS clean_text
        |FROM np LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // exact-integer water-filling replica: T = min_s floor(n_s*W/w_s),
    // quota_s = floor(w_s*T/W), then the same id-hash rank prefix as p07
    "p09_mixture_rebalance" ->
      s"""WITH w(lang, wt) AS (VALUES ('en', 4), ('de', 2), ('fr', 1), ('es', 1)),
         |sz AS (SELECT lang, count(*) AS n FROM documents
         |       WHERE lang IN (SELECT lang FROM w) GROUP BY lang),
         |t AS (SELECT min(coalesce(sz.n, 0) * 8 // w.wt) AS tt
         |      FROM w LEFT JOIN sz USING (lang)),
         |q AS (SELECT w.lang, w.wt * t.tt // 8 AS quota FROM w CROSS JOIN t),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
         |  FROM documents WHERE lang IN (SELECT lang FROM w))
         |SELECT doc_id, lang FROM r JOIN q USING (lang)
         |WHERE rk <= quota ORDER BY doc_id""".stripMargin,

    // exact bipartite Jaccard — the LSH layout is recall-1.0 by
    // construction at fixture scale, so the exact form IS the oracle
    "p14_fuzzy_decontaminate" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |bench AS (SELECT doc_id, text FROM d WHERE doc_id < 50),
        |corpus AS (
        |  SELECT doc_id, text FROM d WHERE doc_id >= 50
        |  UNION ALL
        |  SELECT doc_id + 600000, text || ' uu vv ww' FROM bench),
        |ctok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
        |csh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM ctok WHERE len(tk) >= 3),
        |cn AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
        |btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM bench),
        |bsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM btok WHERE len(tk) >= 3),
        |bn AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
        |p AS (
        |  SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS inter
        |  FROM csh c JOIN bsh b ON c.s = b.s GROUP BY 1, 2)
        |SELECT p.doc_id, p.bench_id, p.inter,
        |  cn.n + bn.n - p.inter AS uni,
        |  CAST(p.inter AS DOUBLE) / (cn.n + bn.n - p.inter) AS jaccard
        |FROM p JOIN cn ON p.doc_id = cn.doc_id JOIN bn ON p.bench_id = bn.doc_id
        |WHERE CAST(p.inter AS DOUBLE) / (cn.n + bn.n - p.inter) >= 0.5
        |ORDER BY p.doc_id, p.bench_id""".stripMargin,

    // novelty = globally-first windows / total windows, from the same
    // keep-first rank CTEs as d15
    "t13_novelty" -> {
      val k = 8
      val gram = (0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH base AS (
         |  SELECT a.doc_id, a.text || ' ' || b.text AS text
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM base),
         |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'pos': i, 'h': ${h60sql(gram)}})) AS u
         |        FROM tok WHERE len(tk) >= $k),
         |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
         |rk AS (SELECT doc_id, pos,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS r FROM kg),
         |win AS (SELECT doc_id, count(*) AS n_novel FROM rk WHERE r = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_windows FROM kg GROUP BY doc_id)
         |SELECT t.doc_id, t.n_windows,
         |  coalesce(w.n_novel, 0) AS n_novel,
         |  CAST(coalesce(w.n_novel, 0) AS DOUBLE) / t.n_windows AS novelty
         |FROM tot t LEFT JOIN win w ON t.doc_id = w.doc_id
         |ORDER BY t.doc_id""".stripMargin
    },

    // span-dedup replica: positional k-gram hashes, keep-first by
    // row_number over (doc_id, pos), range-join cover mask, ordered
    // string_agg rebuild
    "d15_span_dedup" -> d15OracleSql,

    // the incremental stream cut must equal the batch cover mask exactly
    "s12_stream_span_dedup" -> d15OracleSql,

    // char-granular ExactSubstr: same keep-first/cover-mask CTEs at
    // 1-based char positions into the ws-normalized text
    "d30_char_span_dedup" -> d30OracleSql,

    // char-granular decontamination: oracle joins literal 25-char
    // substrings by string equality (Spark probes md5-60 hashes)
    "d31_char_decontamination" -> d31OracleSql,
    // frozen-benchmark streaming twin — order-independent, so the batch
    // SQL is the oracle verbatim
    "s40_stream_char_decontamination" -> d31OracleSql,

    // per-benchmark-item census: the d31 frame aggregated onto the
    // bench item id, zeros kept for unleaked items
    "d32_contamination_census" -> d32OracleSql,
    // frozen-index streaming twin — per-doc facts, order-independent,
    // so the batch census SQL is the oracle verbatim
    "s41_stream_contamination_census" -> d32OracleSql,

    // surgical char-granular decontamination: d30's cover-mask rebuild
    // with the cut set = benchmark-shared windows
    "d33_char_decontaminate_spans" -> d33OracleSql,
    // static-set streaming twin, order-independent, oracle verbatim
    "s42_stream_char_span_decontamination" -> d33OracleSql,

    // the incremental char-granular stream cut must equal d30's batch
    // cover mask exactly (ascending arrival)
    "s39_stream_char_span_dedup" -> d30OracleSql,

    // keep-first over fingerprints, stated as the plain global rule the
    // ordered-arrival incremental gate must reproduce
    // s28: first-come admission under ascending arrival = the per-class
    // rank prefix
    "s28_stream_quota" ->
      """WITH r AS (
        |  SELECT doc_id, lang AS cls,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS adm_rk
        |  FROM documents)
        |SELECT doc_id, cls, CAST(adm_rk AS BIGINT) AS adm_rk FROM r
        |WHERE adm_rk <= CASE cls WHEN 'en' THEN 60 WHEN 'de' THEN 25
        |  WHEN 'fr' THEN 20 WHEN 'es' THEN 25 WHEN 'zh' THEN 30 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    "s13_stream_exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, '  ' || text || '   ' FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM all_docs)
        |SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY fp) AS kept
        |FROM f ORDER BY doc_id""".stripMargin,

    // d15's dup-window CTEs + gaps-and-islands interval merge: a new
    // island starts where a window's start clears the running max end
    // by more than one token (cover adjacency)
    "d16_duplicate_runs" -> {
      val k = 8
      val gram = (0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH base AS (
         |  SELECT a.doc_id, a.text || ' ' || b.text AS text
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM base),
         |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'pos': i, 'h': ${h60sql(gram)}})) AS u
         |        FROM tok WHERE len(tk) >= $k),
         |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
         |rk AS (SELECT doc_id, pos,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS r FROM kg),
         |dup AS (SELECT doc_id, pos AS s, pos + ${k - 1} AS e FROM rk WHERE r > 1),
         |m AS (SELECT doc_id, s, e,
         |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         |        THEN 1 ELSE 0 END AS brk
         |      FROM dup),
         |g AS (SELECT doc_id, s, e,
         |        sum(brk) OVER (PARTITION BY doc_id ORDER BY s
         |          ROWS UNBOUNDED PRECEDING) AS grp
         |      FROM m)
         |SELECT doc_id, min(s) AS run_start, max(e) AS run_end,
         |  max(e) - min(s) + 1 AS run_len
         |FROM g GROUP BY doc_id, grp
         |ORDER BY doc_id, run_start""".stripMargin
    },

    // the round-8 chain: p19's cover-mask CTEs → fingerprint keep-first
    // → p02's quality formula on the CLEANED text → global row_number →
    // BPE-denominated greedy budget prefix
    "p21_decontam_curriculum" -> {
      val k = 8
      val gram = (0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
        .mkString(" || ' ' || ")
      val en = TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      val bpe = graft.ops.RegexBpeTokenizer.countSql("clean_text")
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
         |corpus AS (
         |  SELECT c.doc_id, c.text || ' ' || b.text AS text
         |  FROM documents c JOIN bench b ON c.doc_id % 50 = b.doc_id
         |  WHERE c.doc_id >= 50),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM corpus),
         |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'pos': i, 'h': ${h60sql(gram)}})) AS u
         |        FROM tok WHERE len(tk) >= $k),
         |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
         |btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM bench),
         |bkgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'h': ${h60sql(gram)}})) AS u
         |        FROM btok WHERE len(tk) >= $k),
         |bkg AS (SELECT DISTINCT u.h AS h FROM bkgs),
         |dup AS (SELECT doc_id, pos FROM kg WHERE h IN (SELECT h FROM bkg)),
         |tks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)),
         |          i -> {'j': i, 'w': tk[i]})) AS u FROM tok),
         |toks AS (SELECT doc_id, u.j AS j, u.w AS w FROM tks),
         |rem AS (SELECT DISTINCT t.doc_id, t.j FROM toks t JOIN dup d
         |        ON d.doc_id = t.doc_id AND t.j >= d.pos AND t.j <= d.pos + ${k - 1}),
         |cln AS (
         |  SELECT t.doc_id,
         |    coalesce(string_agg(t.w, ' ' ORDER BY t.j) FILTER (WHERE r.j IS NULL), '')
         |      AS clean_text
         |  FROM toks t LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.j = t.j
         |  GROUP BY t.doc_id),
         |fpd AS (SELECT doc_id,
         |          md5(regexp_replace(lower(trim(clean_text)), '\\s+', ' ', 'g')) AS fp
         |        FROM cln),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fpd GROUP BY fp),
         |u AS (SELECT c.doc_id, c.clean_text FROM cln c JOIN keep USING (doc_id)),
         |feat AS (
         |  SELECT doc_id,
         |    CAST(length(clean_text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END AS BIGINT) AS n_ws,
         |    $bpe AS n_tokens,
         |    CAST(len(regexp_extract_all(clean_text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM u),
         |dq AS (
         |  SELECT doc_id, n_tokens,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_ws > 0 THEN CAST(n_stop AS DOUBLE) / n_ws ELSE 0.0 END))) AS q
         |  FROM feat),
         |r AS (
         |  SELECT doc_id, q, n_tokens,
         |    row_number() OVER (ORDER BY q DESC, doc_id) AS rank,
         |    sum(n_tokens) OVER (ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM dq)
         |SELECT doc_id, q, rank, n_tokens
         |FROM r WHERE cum <= 500000 ORDER BY doc_id""".stripMargin
    },

    // p09's water-filling with DERIVED weights: wt = floor(sqrt(n)) —
    // IEEE sqrt is correctly rounded, so the floor is engine-exact
    "p13_temperature_mix" ->
      s"""WITH sz AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM sz),
         |ww AS (SELECT sum(wt) AS wsum FROM w),
         |t AS (SELECT min(w.n * ww.wsum // w.wt) AS tt FROM w CROSS JOIN ww),
         |q AS (SELECT w.lang, w.wt * t.tt // ww.wsum AS quota
         |      FROM w CROSS JOIN t CROSS JOIN ww),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
         |  FROM documents)
         |SELECT doc_id, lang FROM r JOIN q USING (lang)
         |WHERE rk <= quota ORDER BY doc_id""".stripMargin,

    "p08_quality_cut" -> {
      val en = TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q
         |  FROM f),
         |t AS (SELECT quantile_cont(q, 0.75) AS thr FROM q)
         |SELECT doc_id, q, thr FROM q CROSS JOIN t
         |WHERE q >= thr ORDER BY doc_id""".stripMargin
    },

    // trigram LM with Jelinek–Mercer interpolation over the shared
    // trigram-occurrence stream; same quantize-before-mean discipline
    "t21_trigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |tg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS t
        |  FROM tok WHERE len(tk) >= 3),
        |dt AS (SELECT doc_id, t,
        |         split_part(t, ' ', 1) AS w1, split_part(t, ' ', 2) AS w2,
        |         split_part(t, ' ', 3) AS w3, count(*) AS m
        |       FROM tg GROUP BY 1, 2, 3, 4, 5),
        |tgc AS (SELECT t, sum(m) AS c_tg FROM dt GROUP BY t),
        |tgp AS (SELECT w1, w2, sum(m) AS c_tgp FROM dt GROUP BY 1, 2),
        |bgc AS (SELECT w2, w3, sum(m) AS c_bg FROM dt GROUP BY 1, 2),
        |bgp AS (SELECT w2, sum(m) AS c_bgp FROM dt GROUP BY 1),
        |ugc AS (SELECT w3, sum(m) AS c_ug FROM dt GROUP BY 1),
        |tot AS (SELECT sum(m) AS c_all FROM dt)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
        |  CAST(sum(m * CAST(round(ln(
        |      0.6 * (CAST(c_tg AS DOUBLE) / c_tgp)
        |      + 0.3 * (CAST(c_bg AS DOUBLE) / c_bgp)
        |      + 0.1 * (CAST(c_ug AS DOUBLE) / c_all)) * 1000000) AS BIGINT)) AS DOUBLE)
        |    / (sum(m) * 1000000.0) AS avg_logp
        |FROM dt JOIN tgc USING (t) JOIN tgp USING (w1, w2)
        |  JOIN bgc USING (w2, w3) JOIN bgp USING (w2) JOIN ugc USING (w3)
        |  CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t10_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1])) AS b
        |  FROM tok WHERE len(tk) >= 2),
        |db AS (SELECT doc_id, b, split_part(b, ' ', 1) AS w1, count(*) AS m
        |       FROM bg GROUP BY 1, 2, 3),
        |bgc AS (SELECT b, sum(m) AS c_bg FROM db GROUP BY b),
        |ugc AS (SELECT w1, sum(m) AS c_ug FROM db GROUP BY w1)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        |  CAST(sum(m * CAST(round(ln(CAST(c_bg AS DOUBLE) / c_ug) * 1000000) AS BIGINT)) AS DOUBLE)
        |    / (sum(m) * 1000000.0) AS avg_logp
        |FROM db JOIN bgc USING (b) JOIN ugc USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t11_tfidf_terms" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT doc_id, unnest(tk) AS w FROM d),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM d),
        |q AS (
        |  SELECT doc_id, w, tf, df,
        |    CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000) AS BIGINT) AS sq
        |  FROM tf JOIN df USING (w) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, w, tf, df,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY sq DESC, w ASC) AS rk
        |  FROM q)
        |SELECT doc_id, w AS term, tf, df, rk FROM r WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin,

    "t15_nb_quality" ->
      s"""WITH $nbQualityCtes
         |SELECT doc_id, n_tokens, score_q, score_q > 0 AS pred
         |FROM nb ORDER BY doc_id""".stripMargin,

    // t31: t15's nb scores joined back to the gold seed labels, banded
    // on the shifted nonnegative grid (floor ≡ trunc division there)
    "t31_gate_calibration" -> t31OracleSql,

    // s33 = t31 incrementally: per-band counters are additive over
    // disjoint labeled docs and scoring is stateless against the frozen
    // model, so the drained curve is t31's — its oracle, stated once
    "s33_stream_calibration" -> t31OracleSql,

    // s14 = t15's classifier as a streaming admission gate over a frozen
    // model: the admitted set is exactly t15's positive-score rows
    "s14_stream_nb_gate" ->
      s"""WITH $nbQualityCtes
         |SELECT doc_id, n_tokens, score_q
         |FROM nb WHERE score_q > 0 ORDER BY doc_id""".stripMargin,

    "t16_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_feats, logw_q
         |FROM dsir ORDER BY doc_id""".stripMargin,

    // s15 = t16's importance gate as a streaming admission filter over a
    // frozen model: the admitted set is exactly t16's positive-weight rows
    "s15_stream_dsir_gate" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_feats, logw_q
         |FROM dsir WHERE logw_q > 0 ORDER BY doc_id""".stripMargin,

    // deterministic Gumbel-top-k resampling: u from md5 of the doc id,
    // gumbel = -ln(-ln u) quantized, global top-40 by (logw_q + gumbel)
    "p26_dsir_select" ->
      s"""WITH $dsirCtes,
         |dg AS (SELECT doc_id, n_feats, logw_q,
         |    CAST(round(-ln(-ln(
         |      (${h60sql("'dsir|' || CAST(doc_id AS VARCHAR)")} % 1048576 + 0.5)
         |        / 1048576)) * 1000000) AS BIGINT) AS gumbel_q
         |  FROM dsir),
         |dk AS (SELECT *, logw_q + gumbel_q AS key_q FROM dg),
         |dr AS (SELECT *, row_number() OVER (ORDER BY key_q DESC, doc_id) AS rk FROM dk)
         |SELECT doc_id, n_feats, logw_q, gumbel_q, key_q, CAST(rk AS BIGINT) AS rk
         |FROM dr WHERE rk <= 40 ORDER BY rk""".stripMargin,

    "t18_freq_spectrum" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY term)
        |SELECT freq, CAST(count(*) AS BIGINT) AS n_types
        |FROM tf GROUP BY freq ORDER BY freq""".stripMargin,

    "t19_zipf_fit" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
        |spec AS (SELECT freq, count(*) AS n_types FROM tf GROUP BY freq)
        |SELECT round(regr_slope(ln(n_types), ln(freq)), 6) AS zipf_slope,
        |  round(regr_intercept(ln(n_types), ln(freq)), 6) AS zipf_icept,
        |  CAST(count(*) AS BIGINT) AS n_pts
        |FROM spec""".stripMargin,

    // kmv: kth-smallest distinct hash per source replayed with a window;
    // 1152921504606846976 = 2^60 (the md5-60 hash space), exact in DOUBLE
    "t17_kmv_distinct" ->
      s"""WITH tok17 AS (
         |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
         |sh17 AS (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM tok17 WHERE len(tk) >= 3),
         |hh17 AS (SELECT DISTINCT source, ${h60sql("s")} AS h FROM sh17),
         |rk17 AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS r,
         |    count(*) OVER (PARTITION BY source) AS cnt
         |  FROM hh17)
         |SELECT source,
         |  CAST(least(max(cnt), 32) AS BIGINT) AS n_mins,
         |  CAST(coalesce(max(CASE WHEN r = 32 THEN h END), 0) AS BIGINT) AS kth_h,
         |  CAST(CASE WHEN max(cnt) < 32 THEN max(cnt)
         |       ELSE CAST(round(31.0 * CAST(1152921504606846976 AS DOUBLE)
         |              / CAST(max(CASE WHEN r = 32 THEN h END) AS DOUBLE)) AS BIGINT)
         |       END AS BIGINT) AS est_q
         |FROM rk17 GROUP BY source ORDER BY source""".stripMargin,

    // s17 = t17 incrementally: KMV merge is order-free and idempotent,
    // so the streamed-and-folded sketch equals the whole-corpus sketch
    // bit-for-bit — the oracle is t17's verbatim
    "s17_stream_kmv" ->
      s"""WITH tok17 AS (
         |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
         |sh17 AS (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM tok17 WHERE len(tk) >= 3),
         |hh17 AS (SELECT DISTINCT source, ${h60sql("s")} AS h FROM sh17),
         |rk17 AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS r,
         |    count(*) OVER (PARTITION BY source) AS cnt
         |  FROM hh17)
         |SELECT source,
         |  CAST(least(max(cnt), 32) AS BIGINT) AS n_mins,
         |  CAST(coalesce(max(CASE WHEN r = 32 THEN h END), 0) AS BIGINT) AS kth_h,
         |  CAST(CASE WHEN max(cnt) < 32 THEN max(cnt)
         |       ELSE CAST(round(31.0 * CAST(1152921504606846976 AS DOUBLE)
         |              / CAST(max(CASE WHEN r = 32 THEN h END) AS DOUBLE)) AS BIGINT)
         |       END AS BIGINT) AS est_q
         |FROM rk17 GROUP BY source ORDER BY source""".stripMargin,

    "d06_embed_neardup" ->
      s"""WITH $quantCte
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) AS sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,

    // identical oracle to d06: the bucketed operator must be exact-recall
    // on the fixture
    "d08_embed_neardup_lsh" ->
      s"""WITH $quantCte
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) AS sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,

    "p06_full_pipeline" -> {
      val en = TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
         |f AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS tk,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM corpus),
         |sc AS (
         |  SELECT doc_id,
         |    $langHitsSql
         |  FROM f),
         |scored AS (
         |  SELECT f.doc_id, f.text, f.tk, f.n_tokens,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q,
         |    $langPredSql AS lang
         |  FROM f JOIN sc ON f.doc_id = sc.doc_id),
         |gated AS (SELECT * FROM scored WHERE q >= 0.2),
         |gsh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM gated WHERE len(tk) >= 3),
         |btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM bench),
         |bsh AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM btok WHERE len(tk) >= 3),
         |cont AS (
         |  SELECT doc_id, count(*) AS hits FROM gsh
         |  WHERE s IN (SELECT s FROM bsh) GROUP BY doc_id),
         |clean AS (
         |  SELECT g.* FROM gated g LEFT JOIN cont ON g.doc_id = cont.doc_id
         |  WHERE coalesce(cont.hits, 0) < 5),
         |fp AS (
         |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM clean),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
         |dedup AS (SELECT c.* FROM clean c JOIN keep ON c.doc_id = keep.doc_id),
         |strat AS (
         |  SELECT * FROM dedup
         |  WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000)
         |    < (CASE WHEN lang = 'en' THEN 500 ELSE 1000 END)),
         |bud AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      sum(n_tokens) OVER (ORDER BY q DESC, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM strat)
         |  WHERE cum <= 20000),
         |ct AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk2
         |  FROM bud WHERE length(trim(text)) > 0),
         |ch AS (
         |  SELECT doc_id, tk2, unnest(generate_series(0, (len(tk2) - 1) // 80)) AS chunk_id
         |  FROM ct)
         |SELECT doc_id, chunk_id,
         |  CAST(len(tk2[chunk_id * 80 + 1 : chunk_id * 80 + 100]) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(tk2[chunk_id * 80 + 1 : chunk_id * 80 + 100], ' ') AS chunk_text
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
    },

    "p03_decontaminate" -> p03OracleSql,

    // the Bloom-prefiltered path must be byte-identical to the exact one
    "p18_bloom_decontaminate" -> p03OracleSql,

    // d15's cover-mask machinery with the keep-first winner aggregate
    // replaced by the benchmark k-gram probe
    "p19_decontaminate_spans" -> {
      val k = 8
      val gram = (0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
         |corpus AS (
         |  SELECT c.doc_id, c.text || ' ' || b.text AS text
         |  FROM documents c JOIN bench b ON c.doc_id % 50 = b.doc_id
         |  WHERE c.doc_id >= 50),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM corpus),
         |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'pos': i, 'h': ${h60sql(gram)}})) AS u
         |        FROM tok WHERE len(tk) >= $k),
         |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
         |btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM bench),
         |bkgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'h': ${h60sql(gram)}})) AS u
         |        FROM btok WHERE len(tk) >= $k),
         |bkg AS (SELECT DISTINCT u.h AS h FROM bkgs),
         |dup AS (SELECT doc_id, pos FROM kg WHERE h IN (SELECT h FROM bkg)),
         |tks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)),
         |          i -> {'j': i, 'w': tk[i]})) AS u FROM tok),
         |toks AS (SELECT doc_id, u.j AS j, u.w AS w FROM tks),
         |rem AS (SELECT DISTINCT t.doc_id, t.j FROM toks t JOIN dup d
         |        ON d.doc_id = t.doc_id AND t.j >= d.pos AND t.j <= d.pos + ${k - 1}),
         |agg AS (
         |  SELECT t.doc_id,
         |    count(*) AS n_tokens,
         |    count(r.j) AS n_removed,
         |    coalesce(string_agg(t.w, ' ' ORDER BY t.j) FILTER (WHERE r.j IS NULL), '')
         |      AS clean_text
         |  FROM toks t LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.j = t.j
         |  GROUP BY t.doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_removed AS BIGINT) AS n_removed, clean_text
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    "p04_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "p05_stratified_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id,
         |    $langHitsSql
         |  FROM t),
         |lang AS (SELECT doc_id, $langPredSql AS lang FROM sc)
         |SELECT doc_id, lang
         |FROM lang
         |WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000)
         |  < (CASE WHEN lang = 'en' THEN 300 ELSE 1000 END)
         |ORDER BY doc_id""".stripMargin,

    "a01_ann_brute" ->
      s"""WITH $quantCte
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    CASE WHEN c.nn = 0 OR q.nn = 0 THEN 0.0
         |         ELSE list_dot_product(c.q::DOUBLE[], q.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(q.nn)) END AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY CASE WHEN c.nn = 0 OR q.nn = 0 THEN 0.0
         |        ELSE list_dot_product(c.q::DOUBLE[], q.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(q.nn)) END DESC,
         |        c.vec_id ASC) AS rk
         |  FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) q
         |  WHERE c.vec_id <> q.vec_id)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "a02_ann_lsh" -> {
      // deterministic SRP bucket: 8 planes, integer coefficients
      val bucketExpr = (0 until 8).map { p =>
        s"""(CASE WHEN list_sum(list_transform(generate_series(0, len(q) - 1),
           |  d -> q[d + 1] * ((${h60sql(s"'${p}_' || CAST(d AS VARCHAR)")}) % 2001 - 1000))) > 0
           |  THEN CAST(1 AS BIGINT) << $p ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH $quantCte,
         |b AS (SELECT vec_id, q, nn, $bucketExpr AS bucket FROM n)
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    CASE WHEN c.nn = 0 OR q.nn = 0 THEN 0.0
         |         ELSE list_dot_product(c.q::DOUBLE[], q.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(q.nn)) END AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY CASE WHEN c.nn = 0 OR q.nn = 0 THEN 0.0
         |        ELSE list_dot_product(c.q::DOUBLE[], q.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(q.nn)) END DESC,
         |        c.vec_id ASC) AS rk
         |  FROM b c JOIN (SELECT * FROM b WHERE vec_id < 5) q ON c.bucket = q.bucket
         |  WHERE c.vec_id <> q.vec_id)
         |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin
    },

    "a15_rp_reduce" -> {
      // 16 Rademacher rows, coefficient = (md5-60bit % 2)*2 - 1 ∈ {±1};
      // all dots exact-integer (≤ 16·(64·1000)² < 2^53), then a01's
      // brute top-k shape over the reduced vectors
      val rexprs = (0 until 16).map { p =>
        s"""list_sum(list_transform(generate_series(0, len(q) - 1),
           |      d -> q[d + 1] * ((${h60sql(s"'rp_${p}_' || CAST(d AS VARCHAR)")}) % 2 * 2 - 1)))""".stripMargin
      }.mkString(",\n    ")
      s"""WITH $quantCte,
         |r AS (SELECT vec_id, list_value($rexprs) AS q FROM n),
         |m AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nn FROM r)
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    CASE WHEN c.nn = 0 OR q.nn = 0 THEN 0.0
         |         ELSE list_dot_product(c.q::DOUBLE[], q.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(q.nn)) END AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY CASE WHEN c.nn = 0 OR q.nn = 0 THEN 0.0
         |        ELSE list_dot_product(c.q::DOUBLE[], q.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(q.nn)) END DESC,
         |        c.vec_id ASC) AS rk
         |  FROM m c CROSS JOIN (SELECT * FROM m WHERE vec_id < 5) q
         |  WHERE c.vec_id <> q.vec_id)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
    },

    "t20_bpe_train" -> {
      // the trainer replayed as 8 unrolled rounds: pair-count via lateral
      // unnest over the token list, argmax with the (freq desc, pair asc)
      // tie-break, merge via the delimiter-encoded string replace — the
      // same left-to-right non-overlapping semantics Spark's replace has
      def roundCtes(r: Int) =
        s"""p$r AS (
           |  SELECT t.l[u.i] AS x, t.l[u.i+1] AS y, CAST(sum(t.cnt) AS BIGINT) AS c
           |  FROM (SELECT string_split(trim(e, '_'), '__') AS l, cnt FROM e${r - 1}) t,
           |       unnest(generate_series(1, len(t.l) - 1)) AS u(i)
           |  GROUP BY 1, 2),
           |b$r AS (SELECT x, y, c FROM p$r ORDER BY c DESC, x, y LIMIT 1),
           |e$r AS (SELECT replace(t.e, '_' || b.x || '__' || b.y || '_',
           |                       '_' || b.x || b.y || '_') AS e, t.cnt
           |        FROM e${r - 1} t, b$r b)""".stripMargin
      val rounds = 1 to 8
      s"""WITH dict AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents) t
         |  WHERE w <> '' GROUP BY w),
         |e0 AS (SELECT '_' || array_to_string(string_split(w, ''), '__') || '_' AS e, cnt FROM dict),
         |${rounds.map(roundCtes).mkString(",\n")}
         |SELECT * FROM (
         |  ${rounds.map(r => s"SELECT $r AS r, x, y, c AS freq FROM b$r").mkString(" UNION ALL ")})
         |ORDER BY r""".stripMargin
    },

    "t01_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t02_quality" -> {
      val en = TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens, n_punct,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio,
         |  least(1.0, greatest(0.0,
         |    0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |    + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |    + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS quality
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "t24_script_census" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' ' || repeat('д', CAST(doc_id % 5 AS INT)) ||
        |    repeat('中', CAST(doc_id % 3 AS INT)) ||
        |    repeat('ش', CAST(doc_id % 2 AS INT)) AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |    CAST(len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(text, '[一-鿿]')) AS BIGINT) AS n_cjk,
        |    CAST(len(regexp_extract_all(text, '[؀-ۿ]')) AS BIGINT) AS n_arabic
        |  FROM d)
        |SELECT doc_id, n_latin, n_digit, n_cyrillic, n_cjk, n_arabic,
        |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_cjk = 0 AND n_arabic = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk AND n_latin >= n_arabic THEN 'latin'
        |       WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_arabic THEN 'cyrillic'
        |       WHEN n_cjk >= n_arabic THEN 'cjk'
        |       ELSE 'arabic' END AS script
        |FROM c ORDER BY doc_id""".stripMargin,

    "t23_grouped_zscore" ->
      """WITH d AS (SELECT doc_id, lang AS grp, CAST(length(text) AS BIGINT) AS x
        |           FROM documents),
        |st AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |              CAST(sum(x * x) AS BIGINT) AS sxx
        |       FROM d GROUP BY grp)
        |SELECT d.doc_id, d.grp,
        |  CASE WHEN st.n * st.sxx - st.sx * st.sx <= 0 THEN 0.0
        |       ELSE CAST(st.n * d.x - st.sx AS DOUBLE) /
        |            sqrt(CAST(st.n * st.sxx - st.sx * st.sx AS DOUBLE)) END AS z
        |FROM d JOIN st ON d.grp = st.grp ORDER BY doc_id""".stripMargin,

    "t22_readability" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sents,
        |    CAST(len(regexp_extract_all(text, '(?i)[aeiouy]+')) AS BIGINT) AS n_syll
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  CAST(round((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
        |    - 84.6 * (CAST(n_syll AS DOUBLE) / n_words)) * 1000000) AS BIGINT) AS fk_q
        |FROM f WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    "t03_langid" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id,
         |    $langHitsSql
         |  FROM t)
         |SELECT doc_id, $langPredSql AS lang_pred, s_en
         |FROM sc ORDER BY doc_id""".stripMargin,

    "t04_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // t29: t03's predictor verbatim, grouped against the stored labels;
    // m is consumed twice (matrix + totals) → materialized
    "t29_langid_confusion" ->
      s"""WITH t AS (
         |  SELECT lang AS truth, regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents),
         |sc AS (
         |  SELECT truth,
         |    $langHitsSql
         |  FROM t),
         |p AS (SELECT truth, $langPredSql AS pred FROM sc),
         |m AS (SELECT truth, pred, count(*) AS n FROM p GROUP BY 1, 2),
         |tot AS (SELECT truth, sum(n) AS t_n FROM m GROUP BY 1)
         |SELECT m.truth, m.pred, CAST(m.n AS BIGINT) AS n,
         |  CAST((m.n * 1000000) // tt.t_n AS BIGINT) AS share_q
         |FROM m JOIN tot tt USING (truth) ORDER BY truth, pred""".stripMargin,

    // the SQL applies literally the same patterns in the same order (the
    // pattern list is the shared source of truth)
    "t08_pii_redact" -> {
      val redacted = TextAnalysis.piiPatterns.foldLeft("text") { case (e, (p, r)) =>
        s"regexp_replace($e, '$p', '$r', 'g')"
      }
      s"""WITH dirty AS (SELECT doc_id,
         |  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@corp.example.com at +1 555 ' ||
         |  CAST(doc_id % 10000 AS VARCHAR) || ' 0199 from 10.2.' ||
         |  CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
         |  FROM documents)
         |SELECT doc_id, $redacted AS clean
         |FROM dirty ORDER BY doc_id""".stripMargin
    },

    "m04_media_dedup" ->
      """WITH m AS (
        |  SELECT doc_id, md5(text) AS content_md5 FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text) FROM documents WHERE doc_id % 3 = 0)
        |SELECT content_md5, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM m GROUP BY 1 ORDER BY content_md5""".stripMargin,

    "t09_top_terms" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |c AS (SELECT lang, w, count(*) AS n FROM tok GROUP BY 1, 2),
         |r AS (SELECT lang, w, n, row_number() OVER (
         |        PARTITION BY lang ORDER BY n DESC, ${h60sql("w")} ASC) AS rk
         |      FROM c)
         |SELECT lang, w AS term, n, rk FROM r WHERE rk <= 5
         |ORDER BY lang, rk""".stripMargin,

    "d10_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://' || upper(source) || '.Example.com/p/' || CAST(doc_id % 50 AS VARCHAR) ||
        |  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
        |       ELSE '?id=' || CAST(doc_id % 7 AS VARCHAR) END ||
        |  CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM u),
        |s2 AS (SELECT doc_id,
        |         regexp_replace(u, '[?&](utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '', 'g') AS u FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(u, '^([^?]*)&', '\1?') AS u FROM s2),
        |s4 AS (SELECT doc_id,
        |         regexp_replace(regexp_replace(u, '[?&]+$', ''), '/+$', '') AS u FROM s3),
        |c AS (SELECT doc_id,
        |        lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
        |        regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS canon
        |      FROM s4)
        |SELECT canon, count(*) AS n_dups, min(doc_id) AS keeper
        |FROM c GROUP BY canon ORDER BY canon""".stripMargin,

    "t07_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
        |c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |agg AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m FROM c GROUP BY doc_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(d AS BIGINT) AS n_distinct,
        |  CAST(d AS DOUBLE) / n AS distinct_ratio,
        |  CAST(m AS DOUBLE) / n AS top_ratio
        |FROM agg ORDER BY doc_id""".stripMargin,

    "t06_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, tk, unnest(generate_series(0, (len(tk) - 1) // 80)) AS chunk_id
        |  FROM t)
        |SELECT doc_id, chunk_id,
        |  CAST(len(tk[chunk_id * 80 + 1 : chunk_id * 80 + 100]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(tk[chunk_id * 80 + 1 : chunk_id * 80 + 100], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // the streaming resize is stateless — identical rows to batch m06
    "s10_stream_media_resize" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h,
        |    CAST(20 + doc_id % 200 AS BIGINT) AS c
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, h, c,
        |    CASE WHEN w <= 32 AND h <= 32 THEN w
        |         WHEN w * 32 >= h * 32 THEN 32
        |         ELSE greatest(1, w * 32 // h) END AS nw,
        |    CASE WHEN w <= 32 AND h <= 32 THEN h
        |         WHEN w * 32 >= h * 32 THEN greatest(1, h * 32 // w)
        |         ELSE 32 END AS nh
        |  FROM dims)
        |SELECT doc_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nw AS INT) AS new_w, CAST(nh AS INT) AS new_h,
        |  nw * nh * 3 * c AS pixel_sum
        |FROM f ORDER BY doc_id""".stripMargin,

    // fit-to-box replica in exact integer arithmetic; the solid fill
    // m08: the aHash bits equal the high-tone cells exactly — with tones
    // {40, 140} and 15–48 high cells, the integer cell mean always sits
    // strictly between them — so the hash is bit_or of 1<<idx over the
    // formula's high cells (bit 63 spelled as Long.MinValue: DuckDB's
    // checked 1<<63 overflows, and a BIGINT sum would too)
    // m18: dominant band share by cell arithmetic — pattern images carry
    // max(k, 64−k) of 64 uniform 16-px cells (tones 140/40 land in bands
    // 2/0), solids are single-band by construction
    "m18_blank_filter" -> m18OracleSql,

    // s37 = m18 per micro-batch: verdicts are per-row pure, the drained
    // union IS the batch gate — m18's oracle, stated once
    "s37_stream_blank_gate" -> m18OracleSql,

    // m20: classes and decodability by id arithmetic
    "m20_decode_health" -> m20OracleSql,

    // s39 = m20 incrementally: classes-sized additive counters, ok_ppm
    // derived at drain — m20's oracle, stated once
    "s39_stream_decode_health" -> m20OracleSql,

    // m19: m17's canonical-hash replay restricted to doc_id < 300, then
    // brute-force bit_count pairs (the band join's recall-1.0 contract)
    "m19_rotation_neardup" -> {
      def sh(pos: String) =
        s"""CASE WHEN hi = 0 THEN CAST(0 AS BIGINT)
           |      WHEN ($pos) = 63 THEN CAST(-9223372036854775808 AS BIGINT)
           |      ELSE (CAST(1 AS BIGINT) << ($pos)) END""".stripMargin
      s"""WITH cells AS (
         |  SELECT doc_id, idx,
         |    CASE WHEN ((doc_id % 50) * 31 +
         |      (CASE WHEN doc_id % 7 = 0 THEN (7 - idx % 8) * 8 + idx // 8
         |            ELSE idx END) * 17) % 97 < 48 THEN 1 ELSE 0 END AS hi
         |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS idx
         |        FROM documents WHERE doc_id < 300)),
         |h AS (
         |  SELECT doc_id,
         |    bit_or(${sh("idx")}) AS h0,
         |    bit_or(${sh("(idx % 8) * 8 + (7 - idx // 8)")}) AS h90,
         |    bit_or(${sh("63 - idx")}) AS h180,
         |    bit_or(${sh("(7 - idx % 8) * 8 + idx // 8")}) AS h270
         |  FROM cells GROUP BY doc_id),
         |canon AS (SELECT doc_id, least(h0, h90, h180, h270) AS phash FROM h)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM canon a JOIN canon b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin
    },

    // m17: the rendered cell grid by idx arithmetic (rot-rendered for
    // ids ≡ 0 mod 7), then ALL FOUR orientation hashes as bit
    // permutations of the same grid — bit i of hash_r = hi(perm_r(i)),
    // i.e. source cell j lands at position perm_r⁻¹(j) — and the
    // canonical least(); the m08 bit-63 min-long convention per shift
    "m17_rotation_dedup" -> {
      def sh(pos: String) =
        s"""CASE WHEN hi = 0 THEN CAST(0 AS BIGINT)
           |      WHEN ($pos) = 63 THEN CAST(-9223372036854775808 AS BIGINT)
           |      ELSE (CAST(1 AS BIGINT) << ($pos)) END""".stripMargin
      s"""WITH cells AS (
         |  SELECT doc_id, idx,
         |    CASE WHEN ((doc_id % 50) * 31 +
         |      (CASE WHEN doc_id % 7 = 0 THEN (7 - idx % 8) * 8 + idx // 8
         |            ELSE idx END) * 17) % 97 < 48 THEN 1 ELSE 0 END AS hi
         |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS idx FROM documents)),
         |h AS (
         |  SELECT doc_id,
         |    bit_or(${sh("idx")}) AS h0,
         |    bit_or(${sh("(idx % 8) * 8 + (7 - idx // 8)")}) AS h90,
         |    bit_or(${sh("63 - idx")}) AS h180,
         |    bit_or(${sh("(7 - idx % 8) * 8 + idx // 8")}) AS h270
         |  FROM cells GROUP BY doc_id),
         |canon AS (SELECT doc_id, least(h0, h90, h180, h270) AS phash FROM h)
         |SELECT phash, count(*) AS n_copies, min(doc_id) AS keeper
         |FROM canon GROUP BY phash ORDER BY phash""".stripMargin
    },

    "m08_phash_dedup" ->
      """WITH bits AS (
        |  SELECT doc_id, idx,
        |    CASE WHEN ((doc_id % 50) * 31 + idx * 17) % 97 < 48 THEN 1 ELSE 0 END AS hi
        |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS idx FROM documents)),
        |hash AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN hi = 0 THEN CAST(0 AS BIGINT)
        |                WHEN idx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |                ELSE (CAST(1 AS BIGINT) << idx) END) AS phash
        |  FROM bits GROUP BY doc_id)
        |SELECT phash, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM hash GROUP BY phash ORDER BY phash""".stripMargin,

    // s25: the keep-first predicate is pure over the id order (fate-
    // independent rejection), so the oracle is the same brute-force
    // Hamming ball as m13 — rejected ⇔ a lower-id image within 3 bits
    "s25_stream_media_gate" ->
      """WITH bits AS (
        |  SELECT doc_id, idx,
        |    CASE WHEN ((((doc_id % 50) * 31 + idx * 17) % 97 < 48) <>
        |               (doc_id % 7 = 0 AND idx = doc_id % 64))
        |         THEN 1 ELSE 0 END AS hi
        |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS idx
        |        FROM documents WHERE doc_id < 300)),
        |hash AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN hi = 0 THEN CAST(0 AS BIGINT)
        |                WHEN idx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |                ELSE (CAST(1 AS BIGINT) << idx) END) AS phash
        |  FROM bits GROUP BY doc_id),
        |rej AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3)
        |SELECT h.doc_id, h.phash, (r.doc_id IS NOT NULL) AS rejected
        |FROM hash h LEFT JOIN rej r ON r.doc_id = h.doc_id
        |ORDER BY h.doc_id""".stripMargin,

    // m13: brute-force bit_count over the id-arithmetic hashes — sound
    // as the oracle precisely BECAUSE pigeonhole banding has recall 1.0
    "m13_phash_neardup" ->
      """WITH bits AS (
        |  SELECT doc_id, idx,
        |    CASE WHEN ((((doc_id % 50) * 31 + idx * 17) % 97 < 48) <>
        |               (doc_id % 7 = 0 AND idx = doc_id % 64))
        |         THEN 1 ELSE 0 END AS hi
        |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS idx
        |        FROM documents WHERE doc_id < 300)),
        |hash AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN hi = 0 THEN CAST(0 AS BIGINT)
        |                WHEN idx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |                ELSE (CAST(1 AS BIGINT) << idx) END) AS phash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    // audio trim: the synth formula replayed by id-arithmetic — windows
    // wi-1 ∈ [lead, wTotal-tail) carry samples (id·31 + i·7) mod 201 − 100
    // (never an all-zero window: step 7 can't hold a residue 16 samples),
    // everything outside is digital silence, so the kept region is exactly
    // the formula's loud span; energy/peak are exact integers
    "m07_audio_trim" ->
      """WITH au AS (
        |  SELECT doc_id, 4 + (doc_id % 4) AS wt, doc_id % 3 AS ld, doc_id % 2 AS tl
        |  FROM documents WHERE doc_id < 300),
        |w7 AS (SELECT doc_id, wt, ld, tl, unnest(generate_series(1, wt)) AS wi FROM au),
        |k7 AS (SELECT doc_id, wi FROM w7 WHERE wi - 1 >= ld AND wi - 1 < wt - tl),
        |sv7 AS (SELECT doc_id, wi,
        |    list_transform(generate_series(0, 15),
        |      j -> (doc_id * 31 + ((wi - 1) * 16 + j) * 7) % 201 - 100) AS ss
        |  FROM k7)
        |SELECT doc_id, CAST(wi AS BIGINT) AS win_idx, CAST(16 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(ss, v -> v * v)) AS BIGINT) AS energy_q,
        |  CAST(list_max(list_transform(ss, v -> abs(v))) AS BIGINT) AS peak
        |FROM sv7 ORDER BY doc_id, win_idx""".stripMargin,

    // clip match: track/clip sample streams by md5-arithmetic, window
    // energies as unrolled 4-term sums, 5-way ratio contour (gain-
    // invariant: every comparison homogeneous in g²), base-5 4-gram
    // pack, gram join voting on (track, t_pos − c_pos), per-clip argmax
    // with the (votes desc, track asc, offset asc) tie-break — every
    // quantity an exact integer
    "m12_audio_clip_match" ->
      s"""WITH $m12VoteCtes,
         |r AS (SELECT clip_id, track_id, CAST(offset_w AS BIGINT) AS offset_w, votes,
         |        row_number() OVER (PARTITION BY clip_id
         |          ORDER BY votes DESC, track_id ASC, offset_w ASC) AS rk FROM v)
         |SELECT clip_id, track_id, offset_w, votes FROM r WHERE rk = 1
         |ORDER BY clip_id""".stripMargin,

    // s23 = m12 percolated at pair granularity: each (clip, track) pair's
    // verdict depends only on that track and the frozen clips, so the
    // drained per-batch union equals the batch pair matcher — one shared
    // vote-CTE block, pair-level argmax
    "s23_stream_clip_percolate" ->
      s"""WITH $m12VoteCtes,
         |r AS (SELECT clip_id, track_id, CAST(offset_w AS BIGINT) AS offset_w, votes,
         |        row_number() OVER (PARTITION BY clip_id, track_id
         |          ORDER BY votes DESC, offset_w ASC) AS rk FROM v)
         |SELECT clip_id, track_id, offset_w, votes FROM r WHERE rk = 1
         |ORDER BY clip_id, track_id""".stripMargin,

    // audio resample: the synth stream reconstructed by id-arithmetic,
    // then y[n] = x[p] + ⌊(x[p+1]−x[p])·f / l⌋ at p = (n·m)//l,
    // f = (n·m) mod l — the floor division spelled out via the
    // pmod-adjust trick (DuckDB // truncates on integers), so the
    // resampled stream and its window features are bit-exact
    "m10_audio_resample" -> {
      val (l, m, w) = (2, 3, 16)
      def p = s"(n * $m) // $l"
      def f = s"(n * $m) % $l"
      def d = s"(x[$p + 2] - x[$p + 1])"
      s"""WITH au AS (
         |  SELECT doc_id, 4 + (doc_id % 4) AS wt, doc_id % 3 AS ld, doc_id % 2 AS tl
         |  FROM documents WHERE doc_id < 300),
         |xs AS (SELECT doc_id,
         |    list_transform(generate_series(0, wt * 16 - 1),
         |      i -> CASE WHEN i >= ld * 16 AND i < (wt - tl) * 16
         |           THEN (doc_id * 31 + i * 7) % 201 - 100 ELSE 0 END) AS x
         |  FROM au),
         |ys AS (SELECT doc_id,
         |    list_transform(generate_series(0, ((len(x) - 1) * $l) // $m),
         |      n -> CASE WHEN $f = 0 THEN x[$p + 1]
         |           ELSE x[$p + 1] +
         |             (($d * ($f) - ((($d * ($f)) % $l + $l) % $l)) // $l)
         |           END) AS y
         |  FROM xs)
         |SELECT doc_id, CAST((i - 1) // $w + 1 AS BIGINT) AS win_idx,
         |  CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(sum(v * v) AS BIGINT) AS energy_q,
         |  CAST(max(abs(v)) AS BIGINT) AS peak
         |FROM (SELECT doc_id, unnest(y) AS v, unnest(generate_series(1, len(y))) AS i FROM ys)
         |GROUP BY 1, 2 ORDER BY doc_id, win_idx""".stripMargin
    },

    // m14: block boundaries replayed by the same integer c·dim/grid
    // arithmetic; solid fill ⇒ gray_sum = area × fill exactly
    "m14_patchify" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h,
        |    CAST(20 + doc_id % 200 AS BIGINT) AS c
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w, h, c, cx, cy,
        |    (cx * w) // 4 AS x0, ((cx + 1) * w) // 4 AS x1,
        |    (cy * h) // 4 AS y0, ((cy + 1) * h) // 4 AS y1
        |  FROM dims,
        |    (SELECT unnest(generate_series(0, 3)) AS cx),
        |    (SELECT unnest(generate_series(0, 3)) AS cy))
        |SELECT doc_id, CAST(cx AS INT) AS px, CAST(cy AS INT) AS py,
        |  CAST(x1 - x0 AS INT) AS patch_w, CAST(y1 - y0 AS INT) AS patch_h,
        |  CAST((x1 - x0) * (y1 - y0) * c AS BIGINT) AS gray_sum
        |FROM g WHERE x1 > x0 AND y1 > y0
        |ORDER BY doc_id, py, px""".stripMargin,

    // makes the resized-raster checksum nw*nh*3*c
    "m06_media_resize" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h,
        |    CAST(20 + doc_id % 200 AS BIGINT) AS c
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, h, c,
        |    CASE WHEN w <= 32 AND h <= 32 THEN w
        |         WHEN w * 32 >= h * 32 THEN 32
        |         ELSE greatest(1, w * 32 // h) END AS nw,
        |    CASE WHEN w <= 32 AND h <= 32 THEN h
        |         WHEN w * 32 >= h * 32 THEN greatest(1, h * 32 // w)
        |         ELSE 32 END AS nh
        |  FROM dims)
        |SELECT doc_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nw AS INT) AS new_w, CAST(nh AS INT) AS new_h,
        |  nw * nh * 3 * c AS pixel_sum
        |FROM f ORDER BY doc_id""".stripMargin,

    // the PNG dims are pure id arithmetic — if the real decoder misreads
    // a header, width/height diverge and the hash comparison fails
    "m05_real_decode" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 64 AS INT) AS width,
        |  CAST(1 + doc_id % 48 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // m15: the crop box is pure bar arithmetic — the raster scan must
    // agree with the id-derived geometry
    // m16: D = lcm(bucket heights) = 144; rs = bw*(144/bh). The argmin
    // over |144w - rs*h| with idx tie-break replays the engine's exact-
    // integer assignment; targets = bucket * floor(sqrt(budget div area))
    "m16_aspect_buckets" -> m16OracleSql,

    // s36 = m16 incrementally: per-row-pure assignment + additive bucket
    // counters, targets derived at drain — m16's oracle, stated once
    "s36_stream_aspect" -> m16OracleSql,

    "m15_letterbox_crop" ->
      """SELECT doc_id,
        |  CAST(doc_id % 4 AS INT) AS x0,
        |  CAST(doc_id % 5 AS INT) AS y0,
        |  CAST(16 + doc_id % 16 - 2 * (doc_id % 4) AS INT) AS crop_w,
        |  CAST(16 + doc_id % 12 - 2 * (doc_id % 5) AS INT) AS crop_h
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m01_media_features" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS byte_len,
        |  lower(hex(CAST(substr(text, 1, 16) AS BLOB))) AS head_hex,
        |  CAST(list_sum(list_transform(generate_series(1, least(64, length(text))),
        |    i -> ascii(substr(text, i, 1)))) AS BIGINT) AS byte_sum,
        |  CAST(length(text) % 640 AS INT) AS width,
        |  CAST(length(text) % 480 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
