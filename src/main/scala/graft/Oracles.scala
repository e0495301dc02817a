package graft

import graft.kernel.{Porter, PredDict}
import graft.ops.Similarity
import graft.pipeline.Validate

/** DuckDB oracle SQL for the queries whose inputs are not driver tables:
  * the kg_* pipeline queries read kernel-computed intermediates that
  * Verify dumps under `{OUT}__inputs/` (the `{OUT}` placeholder is
  * replaced with the absolute output directory by Verify), and the
  * hash/ANN queries embed the engine's own deterministic constants
  * (md5 is bit-identical across engines; hyperplane/centroid components
  * are emitted at full double precision).
  *
  * Oracle discipline: each SQL re-implements exactly ONE stage from its
  * UPSTREAM artifact — the kernel NLP itself is gated by ScalaTest
  * goldens, and everything relational after it is re-derived
  * independently here, so a bug in any aggregation/join/window shows up
  * as a driver hash mismatch.
  */
object Oracles {

  // inputs live in a SIBLING of the output dir ({OUT}__inputs), not under
  // {OUT}: the driver's comparator globs {OUT}/* as query outputs and
  // errs on the array-typed input dumps (CORRECTNESS_r02 `_inputs` row)
  private def inp(name: String) = s"read_parquet('{OUT}__inputs/$name/*.parquet')"
  private def out(name: String) = s"read_parquet('{OUT}/$name/*.parquet')"

  /** 60-bit md5 hash: DuckDB equivalent of
    * conv(substring(md5(x),1,15),16,10) — hex-literal cast. */
  private def md5Long(expr: String) = s"('0x'||substr(md5($expr),1,15))::BIGINT"

  private val minhashP = 2147483647L

  /** Full-precision SQL literal of a double (shortest round-trip form;
    * DuckDB's strtod is correctly rounded, so the parsed value is
    * bit-identical). */
  private def dlit(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E")) s.replace("E", "e") else s
  }

  /** Left-associative dot-product chain vec[1]*c0 + vec[2]*c1 + ... —
    * the same fold order as the Column reduce(_ + _), so the double
    * result is bit-identical. */
  private def dotChain(vecExpr: String, weights: Array[Double]): String =
    weights.zipWithIndex
      .map { case (w, d) => s"$vecExpr[${d + 1}]::DOUBLE * ${dlit(w)}" }
      .mkString(" + ")

  private def lshBucketExpr(vecExpr: String, dim: Int, nBits: Int): String =
    (0 until nBits).map { bit =>
      val planes = Array.tabulate(dim)(d => Similarity.planeComponent(bit, d))
      s"(CASE WHEN ${dotChain(vecExpr, planes)} > 0 THEN ${1L << bit} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ---------------- training-data ops over driver tables ----------------

  /** SimHash oracle over the FULL 64-bit token hash: hashes live as
    * UBIGINT (16 leading md5 hex chars), the signature is assembled in
    * HUGEINT (1::BIGINT << 63 overflows DuckDB's BIGINT shift) and
    * wrapped to the signed two's-complement BIGINT the engine emits. */
  /** Unsigned-signature CTEs (doc_id, uh HUGEINT in [0, 2^64)) shared
    * by the signature and candidate-pair oracles. */
  private val simhashUnsignedCtes: String = {
    val votes = (0 until 64).map { b =>
      s"list_sum(list_transform(hs, h -> CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) AS v$b"
    }.mkString(", ")
    val bits = (0 until 64).map { b =>
      s"(CASE WHEN v$b > 0 THEN (1::HUGEINT << $b) ELSE 0::HUGEINT END)"
    }.mkString(" + ")
    s"""h AS (SELECT doc_id,
          list_transform(string_split(regexp_replace(lower(text),'\\s+',' ','g'),' '),
            tk -> ('0x'||substr(md5(tk),1,16))::UBIGINT) AS hs FROM documents),
        v AS (SELECT doc_id, $votes FROM h),
        u AS (SELECT doc_id, ($bits) AS uh FROM v)"""
  }

  val qDedupSimhash: String =
    s"""WITH $simhashUnsignedCtes
        SELECT doc_id,
          CASE WHEN uh >= 9223372036854775808::HUGEINT
               THEN (uh - 18446744073709551616::HUGEINT)::BIGINT
               ELSE uh::BIGINT END AS simhash FROM u"""

  /** SimHash candidate-pair oracle: 16-bit chunk bucketing + exact
    * Hamming distance re-derived with UBIGINT xor/bit_count. */
  val qDedupSimhashPairs: String =
    s"""WITH $simhashUnsignedCtes,
        s AS (SELECT doc_id, uh::UBIGINT AS sig FROM u),
        bk AS (SELECT doc_id, sig, ub.band AS band,
            (sig >> (16 * ub.band)) & 65535 AS key
          FROM s, unnest(range(4)) AS ub(band))
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"""

  /** Similarity-join oracle: the brute-force cross join the engine's
    * size-bucketed plan must reproduce exactly (threshold compared on
    * the 4-rounded value, matching the engine's filter). */
  val qSimJoin: String =
    s"""WITH d AS (SELECT doc_id,
          list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE length(text) > 0 AND doc_id % 10 = 0),
        p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
          round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
            len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        FROM d a JOIN d b ON a.doc_id < b.doc_id)
        SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.8::DOUBLE"""

  /** Contains-constrained JW join oracle: BRUTE-FORCE cross join with
    * the contains predicate — exact truth for the blocked engine plan
    * because the planted fixed-width names make every containment
    * token-aligned. DuckDB's jaro_winkler_similarity matches the
    * kernel on contains-constrained pairs (toolbox note). */
  val qSimJoinJw: String =
    s"""WITH n AS (SELECT c_custkey AS id,
          CASE WHEN c_custkey % 3 = 0
                 THEN 'acme systems ' || lpad(CAST(c_custkey % 200 AS VARCHAR), 3, '0')
               WHEN c_custkey % 3 = 1
                 THEN 'acme systems ' || lpad(CAST(c_custkey % 200 AS VARCHAR), 3, '0') || ' incorporated'
               ELSE 'zenith labs ' || lpad(CAST(c_custkey % 200 AS VARCHAR), 3, '0') END AS name
          FROM customer),
        p AS (SELECT a.id AS id1, b.id AS id2,
            round(jaro_winkler_similarity(a.name, b.name), 4) AS jw
          FROM n a JOIN n b ON a.id < b.id
           AND (contains(a.name, b.name) OR contains(b.name, a.name)))
        SELECT id1, id2, jw FROM p WHERE jw >= 0.9::DOUBLE"""

  /** Corpus-datasheet oracle: the same per-(lang, source) rollup. */
  val qCorpusStats: String =
    s"""SELECT lang, source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(length(text)) AS BIGINT) AS n_chars,
          CAST(sum(length(text) // 4) AS BIGINT) AS est_tokens,
          CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
          CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        FROM documents GROUP BY lang, source"""

  /** URL canonicalization oracle: identical planted urls, identical
    * regex spec (lowercase scheme/authority, default-port strip,
    * fragment drop, utm removal + separator cleanup). */
  val qUrlCanonical: String =
    s"""WITH p AS (SELECT c_custkey,
          'HTTP://Example' || c_custkey || '.COM:80/Path/' || c_custkey ||
          '?utm_source=x&id=' || c_custkey || '&utm_medium=y#frag' AS url
        FROM customer),
        x AS (SELECT c_custkey, url,
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
        FROM p),
        y AS (SELECT c_custkey, url, scheme,
          CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$$', '')
               WHEN scheme = 'https' THEN regexp_replace(auth, ':443$$', '')
               ELSE auth END AS auth2,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(rest,
            'utm_[A-Za-z_]*=[^&]*', '', 'g'), '&&+', '&', 'g'),
            '\\?&', '?', 'g'), '[?&]$$', '', 'g') AS rest2
        FROM x)
        SELECT c_custkey,
          CASE WHEN scheme = '' THEN url
               ELSE scheme || '://' || auth2 || rest2 END AS canon_url
        FROM y"""

  /** PII redaction oracle: identical planted text, identical regexes
    * (RE2 subset), identical replacement cascade — DuckDB needs the
    * 'g' flag Spark's regexp_replace implies. */
  val qPiiRedact: String = {
    val email = graft.ops.TextAnalysis.piiEmail
    val ip = graft.ops.TextAnalysis.piiIp
    val phone = graft.ops.TextAnalysis.piiPhone
    s"""WITH p AS (SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com or 10.0.0.' ||
            (doc_id % 256) || ' tel 555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents),
        r AS (SELECT doc_id, text,
          regexp_replace(text, '$email', '<EMAIL>', 'g') AS t1 FROM p),
        r2 AS (SELECT doc_id, text, t1,
          regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM r)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
          CAST(len(regexp_extract_all(t1, '$ip')) AS INT) AS n_ips,
          CAST(len(regexp_extract_all(t2, '$phone')) AS INT) AS n_phones,
          md5(regexp_replace(t2, '$phone', '<PHONE>', 'g')) AS redacted_md5
        FROM r2"""
  }

  /** Decontamination oracle: 8-token shingle overlap vs the benchmark
    * subset, re-derived with the same tokenization as MinHash. */
  val qDecontaminate: String =
    s"""WITH d AS (SELECT doc_id,
          string_split(regexp_replace(lower(text),'\\s+',' ','g'),' ') AS toks
        FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(
            range(0, greatest(len(toks)-8,0)+1),
            i -> array_to_string(list_slice(toks, i+1, i+8), ' '))) AS shl
          FROM d),
        bench AS (SELECT DISTINCT unnest(shl) AS shingle FROM sh
                  WHERE doc_id % 97 = 0),
        doc AS (SELECT doc_id, unnest(shl) AS shingle FROM sh
                WHERE doc_id % 97 <> 0),
        hits AS (SELECT doc_id, count(*) AS n FROM doc
                 JOIN bench USING (shingle) GROUP BY doc_id)
        SELECT dd.doc_id, CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
          coalesce(hits.n, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) dd
        LEFT JOIN hits USING (doc_id)"""

  /** Training-mix sampling oracle: the same md5-seeded shuffle order,
    * inclusive running token total, budget filter. */
  val qSampleMix: String =
    s"""SELECT source, doc_id, CAST(rank AS INT) AS rank,
          CAST(cum_tokens AS BIGINT) AS cum_tokens FROM (
          SELECT source, doc_id,
            row_number() OVER w AS rank,
            sum(n_chars // 4) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cum_tokens
          FROM documents
          WINDOW w AS (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id))
        WHERE cum_tokens <= 2000"""

  /** Feature-hashing embedding oracle: integer components re-derived
    * per (doc, index) and assembled over a dense index grid. */
  val qTextEmbed: String =
    s"""WITH toks AS (SELECT doc_id,
          unnest(string_split(regexp_replace(lower(text),'\\s+',' ','g'),' ')) AS tk
        FROM documents),
        h AS (SELECT doc_id, ${md5Long("tk")} AS hv FROM toks),
        comp AS (SELECT doc_id, hv % 64 AS idx,
            CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END AS s FROM h),
        agg AS (SELECT doc_id, idx, sum(s) AS v FROM comp GROUP BY doc_id, idx),
        docs AS (SELECT DISTINCT doc_id FROM documents),
        grid AS (SELECT d.doc_id, g.i FROM docs d, unnest(range(64)) AS g(i)),
        vec AS (SELECT grid.doc_id,
            list(coalesce(agg.v, 0) ORDER BY grid.i) AS vl
          FROM grid LEFT JOIN agg
            ON grid.doc_id = agg.doc_id AND grid.i = agg.idx
          GROUP BY grid.doc_id)
        SELECT doc_id, md5(array_to_string(vl, ',')) AS emb_fp,
          CAST(list_sum(list_transform(vl, x -> abs(x))) AS BIGINT) AS l1
        FROM vec"""

  /** MinHash band-bucket CTEs (signature + banding re-derived), shared
    * by the pair, cluster and index-probe oracles. */
  private val minhashBandCtes: String = {
    val sig = (0 until 32).map { i =>
      val a = 2L * i + 1L
      val b = 1000003L * (i + 1)
      s"list_min(list_transform(hl, h -> (h*$a + $b) % $minhashP))"
    }.mkString("[", ", ", "]")
    s"""d AS (SELECT doc_id,
          string_split(regexp_replace(lower(text),'\\s+',' ','g'),' ') AS toks FROM documents),
        sh AS (SELECT doc_id, list_transform(range(0, greatest(len(toks)-3,0)+1),
          i -> array_to_string(list_slice(toks, i+1, i+3), ' ')) AS shingles FROM d),
        hs AS (SELECT doc_id,
          list_transform(shingles, s -> ${md5Long("s")} % $minhashP) AS hl FROM sh),
        sg AS (SELECT doc_id, $sig AS sig FROM hs),
        bb AS (SELECT doc_id, unnest(range(0, 8)) AS band,
          unnest(list_transform(range(0, 8),
            b -> md5(array_to_string(list_slice(sig, b*4+1, b*4+4), ',')))) AS bucket FROM sg)"""
  }

  val qDedupMinhashLsh: String =
    s"""WITH $minhashBandCtes
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""

  /** Incremental-index probe oracle: the cross pairs an even-doc index
    * probed with the odd-doc batch must report = even×odd bucket
    * collisions over the SAME signatures. */
  val qDedupIndexProbe: String =
    s"""WITH $minhashBandCtes
        SELECT DISTINCT a.doc_id AS index_id, b.doc_id AS new_id
        FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1"""

  /** Pairs → clusters: transitive closure over the (re-derived) LSH
    * candidate pairs via a recursive CTE, min reachable id per vertex —
    * the independent re-derivation of min-label-propagation connected
    * components. */
  val qDedupClusters: String =
    s"""WITH RECURSIVE
        pairs AS ($qDedupMinhashLsh),
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY id"""

  /** Keep-best oracle: clusters re-derived by the recursive CTE, then
    * the survivor picked by (length DESC, id ASC) row_number — the
    * deterministic arg-min the engine's min_by(struct) encodes. */
  val qDedupKeepBest: String =
    s"""WITH RECURSIVE
        pairs AS ($qDedupMinhashLsh),
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        cl AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY id),
        sc AS (SELECT cl.id, cl.cluster, CAST(length(d.text) AS BIGINT) AS n_chars
               FROM cl JOIN documents d ON d.doc_id = cl.id),
        rk AS (SELECT id, cluster, n_chars,
                 row_number() OVER (PARTITION BY cluster
                   ORDER BY n_chars DESC, id ASC) AS rn FROM sc)
        SELECT id, cluster, n_chars, rn = 1 AS keep FROM rk"""

  val qTextRepetition: String =
    s"""WITH s AS (SELECT doc_id, string_split(text, '. ') AS sents,
          string_split(text, ' ') AS toks
        FROM documents WHERE length(text) > 0),
        f AS (SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sents,
          round(1.0::DOUBLE - len(list_distinct(sents))::DOUBLE / len(sents), 4)
            AS dup_sent_frac,
          len(toks) AS ntoks FROM s),
        b AS (SELECT doc_id,
          unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM s WHERE len(toks) >= 2),
        c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg),
        m AS (SELECT doc_id, max(cnt) AS maxc FROM c GROUP BY doc_id)
        SELECT f.doc_id, f.n_sents, f.dup_sent_frac,
          round(coalesce(m.maxc::DOUBLE / (f.ntoks - 1), 0.0::DOUBLE), 4)
            AS top_bigram_frac
        FROM f LEFT JOIN m USING (doc_id)"""

  /** Composite quality gate: the quality-feature and repetition
    * derivations combined, rules applied to the ROUNDED features
    * exactly as the engine does (concat_ws skips NULL, so untriggered
    * rules vanish — identical semantics). */
  val qQualityFilter: String =
    s"""WITH qf AS (SELECT doc_id,
          len(string_split(text, ' ')) AS n_tokens,
          round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                / length(text), 4) AS punct_ratio,
          round((
            (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' '))) / 4
          + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' '))) / 2
          + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ' '))) / 3
          + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ' '))) / 4
          + (length(' '||text||' ') - length(replace(' '||text||' ', ' in ', ' '))) / 3
          + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ' '))) / 3
          + (length(' '||text||' ') - length(replace(' '||text||' ', ' is ', ' '))) / 3
          ) * 1.0 / len(string_split(text, ' ')), 4) AS stopword_ratio,
          round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS mean_word_len
        FROM documents WHERE length(text) > 0),
        rep AS (SELECT doc_id, dup_sent_frac, top_bigram_frac FROM ($qTextRepetition)),
        j AS (SELECT qf.*, rep.dup_sent_frac, rep.top_bigram_frac
              FROM qf JOIN rep USING (doc_id)),
        r AS (SELECT doc_id, concat_ws(',',
            CASE WHEN n_tokens < 20 THEN 'too_short' END,
            CASE WHEN mean_word_len < 2.0::DOUBLE OR mean_word_len > 12.0::DOUBLE
                 THEN 'word_len' END,
            CASE WHEN punct_ratio > 0.2::DOUBLE THEN 'punct' END,
            CASE WHEN stopword_ratio < 0.001::DOUBLE THEN 'no_stopwords' END,
            CASE WHEN dup_sent_frac > 0.3::DOUBLE THEN 'repetitive_sents' END,
            CASE WHEN top_bigram_frac > 0.2::DOUBLE THEN 'repetitive_bigrams' END)
          AS reasons FROM j)
        SELECT doc_id, (reasons = '') AS keep, reasons FROM r"""

  val qLineDedup: String =
    s"""WITH l AS (SELECT doc_id,
          unnest(string_split(text, '. ')) AS line,
          unnest(range(len(string_split(text, '. ')))) AS line_idx
        FROM documents),
        n AS (SELECT doc_id, CAST(line_idx AS INT) AS line_idx,
          lower(trim(line)) AS norm
        FROM l WHERE length(lower(trim(line))) > 0)
        SELECT doc_id, line_idx, norm,
          (row_number() OVER (PARTITION BY norm ORDER BY doc_id, line_idx) = 1)
            AS keep
        FROM n"""

  /** Span-dedup oracle: 8-gram shingles with token positions re-derived
    * (same tokenization as the MinHash CTEs), global first occurrence
    * by (doc, pos) row_number, non-first occurrences merged per doc via
    * gaps-and-islands over overlap-or-adjacent [pos, pos+8) intervals. */
  val qSpanDedup: String =
    s"""WITH d AS (SELECT doc_id,
          string_split(regexp_replace(lower(text),'\\s+',' ','g'),' ') AS toks
        FROM documents WHERE length(text) > 0),
        sh AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
            md5(array_to_string(list_slice(toks, u.i + 1, u.i + 8), ' ')) AS key
          FROM d, unnest(range(0, greatest(len(toks) - 8, 0) + 1)) AS u(i)),
        dup AS (SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
              row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
            FROM sh)
          WHERE rn > 1),
        isl AS (SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                 THEN 1 ELSE 0 END AS ni
          FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        g AS (SELECT doc_id, pos,
            sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS island
          FROM isl)
        SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
          CAST(max(pos) + 8 AS INT) AS span_end,
          CAST(count(*) AS BIGINT) AS n_shingles
        FROM g GROUP BY doc_id, island"""

  val qPackSequences: String =
    s"""WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        c AS (SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
            AS BIGINT) - n_tokens AS off
        FROM t)
        SELECT doc_id, n_tokens, off // 512 AS seq_id, off % 512 AS offset_in_seq
        FROM c"""

  val qKnnLsh: String = {
    val bucket = lshBucketExpr("embedding", 64, 4)
    s"""WITH cb AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
        qb AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM cb WHERE vec_id < 3),
        s AS (SELECT qb.qid, cb.vec_id,
                list_cosine_similarity(cb.embedding::DOUBLE[], qb.qvec::DOUBLE[]) AS cos
              FROM cb JOIN qb USING (bucket))
        SELECT qid, vec_id, rank, round(cos, 3) AS cos_sim FROM (
          SELECT qid, vec_id, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
          FROM s) WHERE rank <= 5"""
  }

  val qKnnLshMultiprobe: String = {
    val bucket = lshBucketExpr("embedding", 64, 4)
    val probes = (0 until 4).map(b => s"xor(bucket0, ${1L << b})").mkString(", ")
    s"""WITH cb AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
        qb AS (SELECT qid, qvec, unnest([bucket0, $probes]) AS bucket FROM (
                 SELECT vec_id AS qid, embedding AS qvec, bucket AS bucket0
                 FROM cb WHERE vec_id < 3)),
        s AS (SELECT qb.qid, cb.vec_id,
                list_cosine_similarity(cb.embedding::DOUBLE[], qb.qvec::DOUBLE[]) AS cos
              FROM cb JOIN qb USING (bucket))
        SELECT qid, vec_id, rank, round(cos, 3) AS cos_sim FROM (
          SELECT qid, vec_id, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
          FROM s) WHERE rank <= 5"""
  }

  val qKnnIvf: String = {
    val scores = (0 until 8).map { c =>
      s"(${dotChain("embedding", Similarity.ivfCentroid(c, 64))})"
    }.mkString("[", ", ", "]")
    s"""WITH cb0 AS (SELECT vec_id, embedding, $scores AS cs FROM embeddings),
        cb AS (SELECT vec_id, embedding,
                 list_position(cs, list_max(cs)) - 1 AS centroid FROM cb0),
        qp AS (SELECT qid, qvec, centroid FROM (
                 SELECT vec_id AS qid, embedding AS qvec,
                   unnest(range(0, 8)) AS centroid, unnest(cs) AS score
                 FROM cb0 WHERE vec_id < 3)
               QUALIFY row_number() OVER (PARTITION BY qid
                 ORDER BY score DESC, centroid DESC) <= 4),
        s AS (SELECT qp.qid, cb.vec_id,
                list_cosine_similarity(cb.embedding::DOUBLE[], qp.qvec::DOUBLE[]) AS cos
              FROM cb JOIN qp USING (centroid))
        SELECT qid, vec_id, rank, round(cos, 3) AS cos_sim FROM (
          SELECT qid, vec_id, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
          FROM s) WHERE rank <= 5"""
  }

  /** Int8 quantization re-derived: identical scale (127/max|v|, 0-vector
    * guard), per-component round, fingerprint + L1 over the quantized
    * list (scalars — the driver compare cannot hash array columns). */
  val qQuantizeInt8: String =
    s"""WITH m AS (SELECT vec_id, embedding,
          list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS max_abs
        FROM embeddings),
        s AS (SELECT vec_id, embedding,
          CASE WHEN max_abs = 0 THEN 0.0::DOUBLE
               ELSE 127.0::DOUBLE / max_abs END AS qscale
        FROM m),
        q AS (SELECT vec_id, qscale,
          list_transform(embedding,
            v -> CAST(round(v::DOUBLE * qscale, 0) AS INT)) AS qvec
        FROM s)
        SELECT vec_id, qscale,
          md5(array_to_string(qvec, ',')) AS qvec_fp,
          CAST(list_sum(list_transform(qvec, x -> abs(x))) AS BIGINT) AS q_l1
        FROM q"""

  val qTfidf: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
        tkf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                FROM tk WHERE length(token) > 0 GROUP BY doc_id, token),
        dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tkf GROUP BY token)
        SELECT doc_id, token, tf, df, tfidf, CAST(rank AS INT) AS rank FROM (
          SELECT t.doc_id, t.token, t.tf, q.df,
            round(t.tf * ln(cnt.n / q.df), 4) AS tfidf,
            row_number() OVER (PARTITION BY t.doc_id
              ORDER BY round(t.tf * ln(cnt.n / q.df), 4) DESC, t.token ASC) AS rank
          FROM tkf t JOIN dfq q USING (token) CROSS JOIN cnt)
        WHERE rank <= 5"""

  /** Split oracle: the identical md5-bucket function (the verified
    * '0x'||substr(md5 …) == conv(…) toolbox identity). */
  val qDataSplit: String =
    s"""WITH b AS (SELECT doc_id,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
            AS INT) AS bucket
        FROM documents)
        SELECT doc_id, bucket,
          CASE WHEN bucket < 90 THEN 'train'
               WHEN bucket < 95 THEN 'val'
               ELSE 'test' END AS split
        FROM b"""

  /** Vocabulary-coverage oracle: same counts, same (cnt DESC, token
    * ASC) order, same top-100 cut, running sum over the window. */
  val qVocabCoverage: String =
    s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token
          FROM documents),
        c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
              FROM tk WHERE length(token) > 0 GROUP BY token),
        tot AS (SELECT sum(cnt) AS total FROM c),
        r AS (SELECT token, cnt,
                CAST(row_number() OVER w AS INT) AS rank,
                sum(cnt) OVER (ORDER BY cnt DESC, token ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM c
              WINDOW w AS (ORDER BY cnt DESC, token ASC)
              QUALIFY rank <= 100)
        SELECT token, cnt, rank,
          round(CAST(cum AS DOUBLE) / CAST(tot.total AS DOUBLE), 6) AS coverage
        FROM r CROSS JOIN tot"""

  /** BPE-merge oracle: the fixed 6-iteration merge loop UNROLLED in
    * SQL (generated CTE chain, one block per iteration). Each block
    * re-derives (1) weighted adjacent-pair counts via lead() —
    * overlapping occurrences included, the learn_bpe convention, (2)
    * the argmax pair under (count DESC, lsym ASC, rsym ASC), and (3)
    * greedy left-to-right merge application: for lsym ≠ rsym every
    * occurrence merges (occurrences cannot overlap); for lsym = rsym a
    * gaps-and-islands row_number pairs EVEN offsets within each
    * maximal run with their successors — exactly the kernel loop's
    * left-to-right scan. Vocabulary capped at the same top-200
    * (cnt DESC, word ASC) cut as the engine. */
  /** The unrolled BPE TRAINING chain shared by qBpeMerges and
    * qBpeEncode: CTEs wc (word counts) → v (top-200 cut) → seg0 (chars)
    * → per-iteration blocks yielding b$i (the i-th learned merge) and
    * seg${i+1} (the vocab after applying it). Returns the comma-joined
    * CTE bodies (no WITH keyword). */
  private def bpeTrainChain(n: Int): String = {
    val iterCtes = (0 until n).map { i =>
      s"""prs$i AS (SELECT word, cnt, sym,
            lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM seg$i),
        pc$i AS (SELECT sym AS l, nxt AS r, sum(cnt) AS c FROM prs$i
                 WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        b$i AS (SELECT l, r, c FROM pc$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
        mk$i AS (SELECT s.word, s.cnt, s.pos, s.sym, b.l, b.r,
            lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
            lag(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS prv,
            row_number() OVER (PARTITION BY s.word ORDER BY s.pos)
              - row_number() OVER (PARTITION BY s.word, s.sym ORDER BY s.pos) AS isl
          FROM seg$i s CROSS JOIN b$i b),
        mo$i AS (SELECT *, row_number() OVER (PARTITION BY word, sym, isl
            ORDER BY pos) - 1 AS off FROM mk$i),
        fl$i AS (SELECT word, cnt, pos, sym, l, r,
            CASE WHEN l <> r THEN sym = l AND coalesce(nxt, '') = r
                 ELSE sym = l AND off % 2 = 0 AND coalesce(nxt, '') = l END AS ms,
            CASE WHEN l <> r THEN sym = r AND coalesce(prv, '') = l
                 ELSE sym = l AND off % 2 = 1 END AS cons
          FROM mo$i),
        seg${i + 1} AS (SELECT word, cnt,
            row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
            CASE WHEN ms THEN l || r ELSE sym END AS sym
          FROM fl$i WHERE NOT cons)"""
    }.mkString(",\n        ")
    s"""wc AS (SELECT word, count(*) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE word <> '' GROUP BY word),
        v AS (SELECT word, cnt FROM wc
              QUALIFY row_number() OVER (ORDER BY cnt DESC, word ASC) <= 200),
        seg0 AS (SELECT word, cnt, unnest(range(len(cs))) AS pos, unnest(cs) AS sym
                 FROM (SELECT word, cnt, string_split(word, '') AS cs FROM v)),
        $iterCtes"""
  }

  val qBpeMerges: String = {
    val n = 6
    val unions = (0 until n).map(i =>
      s"SELECT $i AS merge_idx, l AS lsym, r AS rsym, CAST(c AS BIGINT) AS pair_count FROM b$i")
      .mkString("\n        UNION ALL ")
    s"""WITH ${bpeTrainChain(n)}
        $unions"""
  }

  /** BPE-encode oracle: re-trains the 6 merges with the same unrolled
    * chain, then APPLIES them to every distinct corpus word with the
    * identical greedy-merge machinery (esg0..esg6 mirror seg0..seg6,
    * reading the learned pair from b$i instead of re-deriving it), and
    * rolls per-word subword counts up to per-document totals. Docs with
    * no nonempty words emit no row — the engine's flatMap semantics. */
  val qBpeEncode: String = {
    val n = 6
    val encCtes = (0 until n).map { i =>
      s"""emk$i AS (SELECT s.word, s.pos, s.sym, b.l, b.r,
            lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
            lag(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS prv,
            row_number() OVER (PARTITION BY s.word ORDER BY s.pos)
              - row_number() OVER (PARTITION BY s.word, s.sym ORDER BY s.pos) AS isl
          FROM esg$i s CROSS JOIN b$i b),
        emo$i AS (SELECT *, row_number() OVER (PARTITION BY word, sym, isl
            ORDER BY pos) - 1 AS off FROM emk$i),
        efl$i AS (SELECT word, pos, sym, l, r,
            CASE WHEN l <> r THEN sym = l AND coalesce(nxt, '') = r
                 ELSE sym = l AND off % 2 = 0 AND coalesce(nxt, '') = l END AS ms,
            CASE WHEN l <> r THEN sym = r AND coalesce(prv, '') = l
                 ELSE sym = l AND off % 2 = 1 END AS cons
          FROM emo$i),
        esg${i + 1} AS (SELECT word,
            row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
            CASE WHEN ms THEN l || r ELSE sym END AS sym
          FROM efl$i WHERE NOT cons)"""
    }.mkString(",\n        ")
    s"""WITH ${bpeTrainChain(n)},
        dw AS (SELECT doc_id, word
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                     FROM documents)
               WHERE word <> ''),
        uw AS (SELECT DISTINCT word FROM dw),
        esg0 AS (SELECT word, unnest(range(len(cs))) AS pos, unnest(cs) AS sym
                 FROM (SELECT word, string_split(word, '') AS cs FROM uw)),
        $encCtes,
        wt AS (SELECT word, CAST(count(*) AS BIGINT) AS ntok
               FROM esg$n GROUP BY word)
        SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(wt.ntok) AS BIGINT) AS n_bpe_tokens
        FROM dw JOIN wt USING (word) GROUP BY dw.doc_id"""
  }

  /** Sessionize oracle: the identical lag → gap flag → running-sum →
    * per-session rollup, all in exact integer microseconds (epoch_us
    * == Spark's unix_micros); ties at one ts order by event_id. */
  val qSessionize: String =
    s"""WITH x AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
          lag(epoch_us(ts)) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
        g AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL
              OR us - prev > 21600000000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_idx FROM x)
        SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
          min(ts) AS sess_start, max(ts) AS sess_end,
          CAST(max(us) - min(us) AS BIGINT) AS duration_us,
          round(sum(value), 2) AS sum_value
        FROM g GROUP BY user_id, session_idx"""

  /** Funnel oracle: the identical greedy subsequence match — step
    * numbers listed per user in (ts, event_id) order, folded with
    * "advance iff the next needed step arrives" from a prepended 0
    * seed (greedy earliest-match is optimal, so both engines compute
    * THE max reachable stage, not an arbitrary matching). */
  val qFunnel: String =
    s"""WITH e AS (SELECT user_id, ts, event_id,
          CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
            WHEN 'purchase' THEN 3 END AS step
        FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        a AS (SELECT user_id, list(step ORDER BY ts, event_id) AS seq
              FROM e GROUP BY user_id)
        SELECT user_id, CAST(list_reduce(list_prepend(0, seq),
            (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1 ELSE acc END)
          AS BIGINT) AS stage_reached
        FROM a"""

  /** Retention-cohort oracle: distinct active days per user, cohort =
    * min day, (cohort, offset) user counts — exact integer day math. */
  val qRetention: String =
    s"""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
        SELECT c.cohort_day,
          CAST(date_diff('day', c.cohort_day, d.day) AS BIGINT) AS day_offset,
          CAST(count(*) AS BIGINT) AS n_users
        FROM d JOIN c USING (user_id) GROUP BY 1, 2"""

  /** Bloom seen-set oracle: the filter re-derived exactly — position i
    * of a key is the verified md5→60-bit toolbox hash of 'i:key' mod
    * 1024, the build is the DISTINCT position set of the src0 texts,
    * and maybe_seen = all 4 probe positions present (false positives
    * and all — both engines compute the same deterministic filter). */
  val qBloomSeen: String =
    s"""WITH idx AS (SELECT unnest(range(4)) AS i),
        bpos AS (SELECT DISTINCT
            ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || text), 1, 15))::BIGINT
              % 1024 AS p
          FROM documents CROSS JOIN idx WHERE source = 'src0'),
        pp AS (SELECT doc_id,
            ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || text), 1, 15))::BIGINT
              % 1024 AS p
          FROM documents CROSS JOIN idx)
        SELECT doc_id, bool_and(p IN (SELECT p FROM bpos)) AS maybe_seen
        FROM pp GROUP BY doc_id"""

  /** Snapshot-diff oracle: the same two derived corpus versions and the
    * same fingerprint outer-join classification, re-derived in SQL. */
  val qSnapshotDiff: String =
    s"""WITH o AS (SELECT doc_id, md5(text) AS fp_old FROM documents
                   WHERE doc_id % 10 <> 0),
        n AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 2
                THEN text || ' v2' ELSE text END) AS fp_new
              FROM documents WHERE doc_id % 10 <> 1)
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          CASE WHEN fp_old IS NULL THEN 'added'
               WHEN fp_new IS NULL THEN 'removed'
               WHEN fp_old = fp_new THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""

  /** Negative-sampling oracle: the identical unigram^0.75 distribution;
    * the top-100 cut keys on exact counts so the set matches, and
    * neg_prob's sum-order/pow-ulp noise (relative ~1e-15) vanishes
    * under round(8). */
  val qNegSampling: String =
    s"""WITH t AS (SELECT token FROM (SELECT unnest(string_split(text, ' '))
            AS token FROM documents) WHERE token <> ''),
        c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token),
        w AS (SELECT token, cnt, pow(cnt::DOUBLE, 0.75::DOUBLE) AS w FROM c),
        s AS (SELECT sum(w) AS w_total FROM w)
        SELECT token, cnt, round(w / w_total, 8) AS neg_prob
        FROM w CROSS JOIN s
        ORDER BY cnt DESC, token ASC LIMIT 100"""

  /** Percentile oracle: quantile_cont is the same type-7 estimator
    * (index = p·(n−1), linear interpolation) as Spark's exact
    * percentile aggregate; ulp-level interpolation-order differences
    * are absorbed by round(4). */
  val qPercentiles: String =
    s"""SELECT event_type,
          round(quantile_cont(value::DOUBLE, 0.25), 4) AS p25,
          round(quantile_cont(value::DOUBLE, 0.5), 4) AS p50,
          round(quantile_cont(value::DOUBLE, 0.75), 4) AS p75,
          round(quantile_cont(value::DOUBLE, 0.95), 4) AS p95
        FROM events GROUP BY event_type"""

  /** Phrase-mining oracle: the identical word2phrase score over the
    * same empty-filtered token adjacency — every float factor cast
    * ::DOUBLE with the same precedence chain, so scores are
    * bit-identical; (score desc, w1, w2) is a total order so the
    * top-50 SET is deterministic in both engines. */
  val qPhraseMine: String =
    s"""WITH d AS (SELECT list_filter(string_split(text, ' '), x -> x <> '')
            AS toks FROM documents),
        ex AS (SELECT toks[u.i] AS w1, toks[u.i + 1] AS w2
               FROM d, unnest(range(1, len(toks))) AS u(i)),
        cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
                FROM ex GROUP BY 1, 2),
        w AS (SELECT unnest(toks) AS w FROM d),
        cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM w GROUP BY w),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM w),
        s AS (SELECT cab.w1, cab.w2, cab.c_ab,
                round((cab.c_ab::DOUBLE - 1.0::DOUBLE) * n.n_tokens::DOUBLE
                  / (a.c_w::DOUBLE * b.c_w::DOUBLE), 4) AS phrase_score
              FROM cab JOIN cw a ON cab.w1 = a.w JOIN cw b ON cab.w2 = b.w
              CROSS JOIN n WHERE cab.c_ab >= 5)
        SELECT w1, w2, c_ab, phrase_score FROM s
        ORDER BY phrase_score DESC, w1 ASC, w2 ASC LIMIT 50"""

  /** Count-min oracle: the d×w counter table, per-token min-of-d
    * estimate and exact count re-derived with the identical 'i#'-salted
    * md5 hash family; the top-20 cut is a total order (est desc, token
    * asc) so the selected SET is deterministic in both engines. */
  val qCmsTopk: String =
    s"""WITH toks AS (SELECT token FROM (SELECT unnest(string_split(text, ' '))
            AS token FROM documents) WHERE token <> ''),
        idx AS (SELECT unnest(range(4)) AS i),
        e AS (SELECT token, i,
                ('0x' || substr(md5(CAST(i AS VARCHAR) || '#' || token), 1, 15))::BIGINT
                  % 512 AS pos
              FROM toks CROSS JOIN idx),
        c AS (SELECT i, pos, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY i, pos),
        ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
               FROM toks GROUP BY token),
        p AS (SELECT ex.token, ex.exact_cnt, idx.i,
                ('0x' || substr(md5(CAST(idx.i AS VARCHAR) || '#' || ex.token), 1, 15))::BIGINT
                  % 512 AS pos
              FROM ex CROSS JOIN idx),
        est AS (SELECT p.token, p.exact_cnt, min(c.cnt) AS cms_est
                FROM p JOIN c USING (i, pos) GROUP BY 1, 2)
        SELECT token, cms_est, exact_cnt FROM est
        ORDER BY cms_est DESC, token ASC LIMIT 20"""

  /** HyperLogLog oracle: registers (low 7 hash bits), ranks
    * (54 − bitlength of the 53-bit suffix, the v2=0 case pinned
    * identically in both engines) and the raw alpha·m²/Σ2^(−M) estimate
    * re-derived; the register sum's addition order is engine-dependent
    * (relative ~1e-13), absorbed by round(4). */
  val qHllDistinct: String = {
    val alpha = java.lang.Double.toString(0.7213 / (1 + 1.079 / 128))
    s"""WITH t AS (SELECT token FROM (SELECT unnest(string_split(text, ' '))
            AS token FROM documents) WHERE token <> ''),
        h AS (SELECT token, ('0x' || substr(md5(token), 1, 15))::BIGINT AS v FROM t),
        r AS (SELECT v % 128 AS reg,
                CASE WHEN (v >> 7) = 0 THEN 54
                     ELSE 54 - length(bin(v >> 7)) END AS rank
              FROM h),
        m AS (SELECT reg, max(rank) AS r FROM r GROUP BY reg),
        s AS (SELECT sum(pow(2.0, -r)) AS s_ne, CAST(count(*) AS BIGINT) AS n_ne FROM m),
        x AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS exact_distinct FROM t)
        SELECT CAST(128 AS BIGINT) AS m_registers, s.n_ne AS registers_used,
          round($alpha::DOUBLE * 128 * 128 / (s.s_ne + (128 - s.n_ne)::DOUBLE), 4) AS hll_est,
          x.exact_distinct
        FROM s CROSS JOIN x"""
  }

  /** DSIR-weights oracle: same md5→60-bit bucket hashing (the verified
    * conv equivalence), same add-one-smoothed target/source bucket
    * distributions, same per-doc log-ratio rollup; ln vs log ulp
    * differences absorbed by round(4) (the lmScore precedent). */
  val qDsirWeights: String =
    s"""WITH toks AS (SELECT doc_id,
          (source = 'src0') AS is_target,
          ('0x' || substr(md5(word), 1, 15))::BIGINT % 64 AS bucket
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> ''),
        c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_src,
                CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
              FROM toks GROUP BY bucket),
        t AS (SELECT CAST(sum(c_src) AS BIGINT) AS t_src,
                CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM c),
        m AS (SELECT bucket,
                ln((c_tgt + 1)::DOUBLE / (t_tgt + 64))
                  - ln((c_src + 1)::DOUBLE / (t_src + 64)) AS logratio
              FROM c CROSS JOIN t)
        SELECT toks.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          round(sum(m.logratio), 4) AS dsir_sum,
          round(avg(m.logratio), 4) AS dsir_mean
        FROM toks JOIN m USING (bucket) GROUP BY toks.doc_id"""

  /** Bigram-LM score oracle: the same add-one-smoothed model re-trained
    * in SQL (bigram/context counts + vocabulary size), docs re-scored
    * by mean ln P — Spark's log and DuckDB's ln may differ by an ulp
    * per term, absorbed by round(4) on the mean (the q_tfidf
    * precedent). */
  val qLmScore: String =
    s"""WITH d AS (SELECT doc_id,
          list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        FROM documents WHERE length(text) > 0),
        d2 AS (SELECT doc_id, toks FROM d WHERE len(toks) > 0),
        ex AS (SELECT doc_id,
            (CASE WHEN u.i = 1 THEN '<s>' ELSE toks[u.i - 1] END)
              || ' ' || toks[u.i] AS bg
          FROM d2, unnest(range(1, len(toks) + 1)) AS u(i)),
        bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM ex GROUP BY bg),
        ctxc AS (SELECT split_part(bg, ' ', 1) AS ctx,
            CAST(count(*) AS BIGINT) AS c_ctx FROM ex GROUP BY 1),
        v AS (SELECT count(DISTINCT tok) AS v
              FROM (SELECT unnest(toks) AS tok FROM d2)),
        s AS (SELECT e.doc_id,
            ln((b.c_bg + 1)::DOUBLE / (c.c_ctx + v.v)) AS lp
          FROM ex e JOIN bgc b USING (bg)
          JOIN ctxc c ON split_part(e.bg, ' ', 1) = c.ctx
          CROSS JOIN v)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          round(avg(lp), 4) AS avg_logp
        FROM s GROUP BY doc_id"""

  /** Trained-IVF oracle: assignment, probe list and ranking re-derived
    * from the DUMPED codebook doubles. The dot product is a left fold in
    * index order seeded with 0.0 (list_reduce over list_prepend), the
    * exact fold order of the Column reduce(_ + _) chain, so scores are
    * bit-identical to the Spark side. */
  val qKnnIvfTrained: String =
    s"""WITH cents AS (SELECT centroid, cvec FROM ${inp("ivf_centroids")}),
        sc AS (SELECT e.vec_id, e.embedding, c.centroid,
                 list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cvec[i])),
                   (a, b) -> a + b) AS score
               FROM embeddings e CROSS JOIN cents c),
        cb AS (SELECT vec_id, embedding, centroid FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY score DESC, centroid ASC) AS rn FROM sc) WHERE rn = 1),
        qp AS (SELECT vec_id AS qid, embedding AS qvec, centroid FROM sc
               WHERE vec_id < 3
               QUALIFY row_number() OVER (PARTITION BY vec_id
                 ORDER BY score DESC, centroid DESC) <= 4),
        s AS (SELECT qp.qid, cb.vec_id,
                list_cosine_similarity(cb.embedding::DOUBLE[], qp.qvec::DOUBLE[]) AS cos
              FROM cb JOIN qp USING (centroid))
        SELECT qid, vec_id, rank, round(cos, 3) AS cos_sim FROM (
          SELECT qid, vec_id, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
          FROM s) WHERE rank <= 5"""

  /** PQ-ADC oracle: encoding (per-subspace argmin L2, ties to the
    * smaller code), reconstruction norms and ADC scores re-derived from
    * the DUMPED codebook doubles. Every float fold is a left fold in
    * index order seeded with 0.0 (list_reduce over list_prepend) and
    * the per-vector sums over subspaces use list(x ORDER BY sub) before
    * folding — the exact evaluation order of the Spark side's
    * aggregate(zip_with(codes, sequence(0, m-1), …), 0.0, +), so scores
    * are bit-identical, not just round-close. */
  val qKnnPq: String =
    s"""WITH books AS (SELECT sub, code, cvec FROM ${inp("pq_codebooks")}),
        d AS (SELECT e.vec_id, b.sub, b.code,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, 9), i ->
                    (e.embedding[b.sub*8 + i]::DOUBLE - b.cvec[i])
                    * (e.embedding[b.sub*8 + i]::DOUBLE - b.cvec[i]))),
                  (a, x) -> a + x) AS d2
              FROM embeddings e CROSS JOIN books b),
        codes AS (SELECT vec_id, sub, code FROM d
                  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                    ORDER BY d2 ASC, code ASC) = 1),
        bn AS (SELECT sub, code,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, 9), i -> cvec[i] * cvec[i])),
                  (a, x) -> a + x) AS n2
               FROM books),
        rn AS (SELECT c.vec_id,
                sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                  list(bn.n2 ORDER BY c.sub)), (a, x) -> a + x)) AS rnorm
               FROM codes c JOIN bn ON c.sub = bn.sub AND c.code = bn.code
               GROUP BY c.vec_id),
        q AS (SELECT vec_id AS qid, embedding AS qvec,
                sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, 65), i ->
                    embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
                  (a, x) -> a + x)) AS qnorm
              FROM embeddings WHERE vec_id < 3),
        ad AS (SELECT q.qid, q.qnorm, c.vec_id, c.sub,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, 9), i ->
                    q.qvec[c.sub*8 + i]::DOUBLE * b.cvec[i])),
                  (a, x) -> a + x) AS dt
               FROM q, codes c, books b
               WHERE c.sub = b.sub AND c.code = b.code),
        s AS (SELECT qid, vec_id, qnorm,
                list_reduce(list_prepend(0.0::DOUBLE, list(dt ORDER BY sub)),
                  (a, x) -> a + x) AS dotq
              FROM ad GROUP BY qid, vec_id, qnorm),
        f AS (SELECT s.qid, s.vec_id,
                CASE WHEN r.rnorm * s.qnorm = 0.0 THEN 0.0
                     ELSE s.dotq / (s.qnorm * r.rnorm) END AS score
              FROM s JOIN rn r ON s.vec_id = r.vec_id)
        SELECT qid, vec_id, rank, round(score, 3) AS pq_score FROM (
          SELECT qid, vec_id, score,
            row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id ASC) AS rank
          FROM f) WHERE rank <= 5"""

  /** SemDeDup oracle: nearest-centroid assignment re-derived from the
    * DUMPED codebook doubles (the qKnnIvfTrained cb shape — max score,
    * ties to the smaller centroid id), within-cluster pairs cosine-
    * thresholded with every float fold a left fold in index order
    * seeded 0.0 (bit-identical to the Spark aggregate/zip_with chain),
    * keep = no lower-id cluster-mate at or above threshold. */
  val qSemDedup: String =
    s"""WITH cents AS (SELECT centroid, cvec FROM ${inp("ivf_centroids")}),
        sc AS (SELECT e.vec_id, e.embedding, c.centroid,
                 list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cvec[i])),
                   (a, b) -> a + b) AS score
               FROM embeddings e CROSS JOIN cents c),
        cb AS (SELECT vec_id, embedding, centroid FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY score DESC, centroid ASC) AS rn FROM sc) WHERE rn = 1),
        pr AS (SELECT DISTINCT b.vec_id AS vid
               FROM cb a JOIN cb b ON a.centroid = b.centroid AND a.vec_id < b.vec_id
               WHERE list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(1, 65),
                         i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
                       (x, y) -> x + y)
                     / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                         list_transform(range(1, 65),
                           i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)),
                         (x, y) -> x + y))
                      * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                         list_transform(range(1, 65),
                           i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
                         (x, y) -> x + y))) >= 0.2::DOUBLE)
        SELECT cb.vec_id, cb.centroid,
          cb.vec_id NOT IN (SELECT vid FROM pr) AS keep
        FROM cb"""

  val qDedupEmbedding: String = {
    val bucket = lshBucketExpr("embedding", 64, 8)
    s"""WITH cb AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)
        SELECT a.vec_id AS id1, b.vec_id AS id2,
          round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) AS cos_sim
        FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.2"""
  }

  /** REAL JDK-decode + resize oracle (PNG is lossless, so the formula
    * holds exactly): nearest-neighbor source coordinates (x·w÷4, y·h÷3)
    * re-derived per output pixel, means from the generator formula at
    * those coordinates — agrees only if the inflate decode, row order
    * AND the decimation arithmetic are all right. */
  val qMultimodalResize: String =
    s"""WITH imgs AS (SELECT img_id, 4 + img_id % 5 AS w, 3 + img_id % 4 AS h
          FROM ${inp("bmp_ids")}),
        p AS (SELECT img_id, w, h, ux.x AS x, uy.y AS y
              FROM imgs, unnest(range(4)) AS ux(x), unnest(range(3)) AS uy(y)),
        s AS (SELECT img_id, (x * w) // 4 AS sx, (y * h) // 3 AS sy FROM p),
        m AS (SELECT img_id,
          avg(CAST((sx*7 + sy*13 + img_id) % 256 AS DOUBLE)) AS mr,
          avg(CAST((sx*3 + sy*5 + 2*img_id) % 256 AS DOUBLE)) AS mg,
          avg(CAST((sx*11 + sy + 3*img_id) % 256 AS DOUBLE)) AS mb
        FROM s GROUP BY img_id)
        SELECT img_id, 4 AS out_w, 3 AS out_h,
          round(mr, 4) AS mean_r, round(mg, 4) AS mean_g, round(mb, 4) AS mean_b
        FROM m"""

  /** Frame-sampling plan re-derived from the dumped decoded metadata:
    * frames 0, 30, 60, … < n_frames with floor timestamps. */
  val qMultimodalFrames: String =
    s"""SELECT video_id, CAST(frame_idx AS INT) AS frame_idx,
          CAST(floor(frame_idx * 100000 / fps_x100) AS BIGINT) AS ts_ms,
          width, height, label
        FROM (SELECT video_id, unnest(range(0, n_frames, 30)) AS frame_idx,
                fps_x100, width, height, label
              FROM ${inp("videos_meta")})"""

  /** REAL WAV segmentation oracle: the formula samples
    * s_i = ((i·37 + id·101) % 4096) − 2048 are windowed into 512-sample
    * segments (last ragged) and each segment's exact integer sums are
    * re-derived — agrees only if the engine's PCM decode AND windowing
    * are both bit-right. */
  val qMultimodalSegments: String =
    s"""WITH a AS (SELECT img_id AS audio_id,
          8000 + (img_id % 3) * 4000 AS rate,
          800 + (img_id % 5) * 400 AS ns FROM ${inp("bmp_ids")}),
        s AS (SELECT audio_id, rate, u.i AS i, u.i // 512 AS seg_idx,
            ((u.i * 37 + audio_id * 101) % 4096) - 2048 AS v
          FROM a, unnest(range(ns)) AS u(i)),
        m AS (SELECT audio_id, seg_idx, min(rate) AS rate, count(*) AS n,
            sum(v) AS sv, sum(v * v) AS svq
          FROM s GROUP BY audio_id, seg_idx)
        SELECT audio_id, CAST(seg_idx AS INT) AS seg_idx,
          CAST(seg_idx * 512 AS INT) AS start_sample,
          CAST(n AS INT) AS seg_len, CAST(rate AS INT) AS sample_rate,
          round(CAST(sv AS DOUBLE) / n, 4) AS mean_amp,
          round(sqrt(CAST(svq AS DOUBLE) / n), 4) AS rms
        FROM m"""

  /** REAL-decode BMP oracle: dimensions and channel means re-derived
    * from the generator's pixel formula over the dumped id list — the
    * Spark side gets them by PARSING the encoded bytes, so this checks
    * the decode itself. */
  val qMultimodalBmp: String =
    s"""WITH imgs AS (SELECT img_id, 4 + img_id % 5 AS w, 3 + img_id % 4 AS h
          FROM ${inp("bmp_ids")}),
        p AS (SELECT img_id, w, h, ux.x AS x, uy.y AS y
              FROM imgs, unnest(range(w)) AS ux(x), unnest(range(h)) AS uy(y)),
        m AS (SELECT img_id, w, h,
          avg(CAST((x*7 + y*13 + img_id) % 256 AS DOUBLE)) AS mr,
          avg(CAST((x*3 + y*5 + 2*img_id) % 256 AS DOUBLE)) AS mg,
          avg(CAST((x*11 + y + 3*img_id) % 256 AS DOUBLE)) AS mb
        FROM p GROUP BY img_id, w, h)
        SELECT img_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          round(mr, 4) AS mean_r, round(mg, 4) AS mean_g, round(mb, 4) AS mean_b
        FROM m"""

  /** Formula-means oracle for a lossless decode corpus with dimensions
    * w = wBase + id%5, h = hBase + id%4 — shared by the BMP, PNG and
    * GIF queries: the same formula answer checks three independent
    * engine-side decode paths (hand parser, inflate, LZW+palette). */
  private def formulaMeansOracle(wBase: Int, hBase: Int): String =
    s"""WITH imgs AS (SELECT img_id, $wBase + img_id % 5 AS w,
          $hBase + img_id % 4 AS h
          FROM ${inp("bmp_ids")}),
        p AS (SELECT img_id, w, h, ux.x AS x, uy.y AS y
              FROM imgs, unnest(range(w)) AS ux(x), unnest(range(h)) AS uy(y)),
        m AS (SELECT img_id, w, h,
          avg(CAST((x*7 + y*13 + img_id) % 256 AS DOUBLE)) AS mr,
          avg(CAST((x*3 + y*5 + 2*img_id) % 256 AS DOUBLE)) AS mg,
          avg(CAST((x*11 + y + 3*img_id) % 256 AS DOUBLE)) AS mb
        FROM p GROUP BY img_id, w, h)
        SELECT img_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          round(mr, 4) AS mean_r, round(mg, 4) AS mean_g, round(mb, 4) AS mean_b
        FROM m"""

  val qMultimodalPng: String = formulaMeansOracle(4, 3)
  /** GIF corpus uses 6x5-base sizes (JDK GIF codec quirk below ~30 px). */
  val qMultimodalGif: String = formulaMeansOracle(6, 5)

  /** JPEG decode oracle: dimensions from the id formula (exact); the
    * engine's mean-error booleans must all be true (measured worst
    * error 1.46 at tol 3.0 — a broken DCT/colorspace path flips them). */
  val qMultimodalJpeg: String =
    s"""SELECT img_id,
          CAST(16 + (img_id % 5) * 8 AS INT) AS width,
          CAST(16 + (img_id % 4) * 8 AS INT) AS height,
          true AS r_ok, true AS g_ok, true AS b_ok
        FROM ${inp("bmp_ids")}"""

  /** REAL-video (animated GIF) oracle: frame counts, sampled frame
    * indices, the delay timeline and per-frame channel means all
    * re-derived from the id + frame formulas. */
  val qMultimodalVideo: String =
    s"""WITH v AS (SELECT img_id AS video_id, 6 + img_id % 5 AS w,
          5 + img_id % 4 AS h, 4 + img_id % 7 AS nf,
          4 + (img_id % 3) * 2 AS delay FROM ${inp("bmp_ids")}),
        fr AS (SELECT video_id, w, h, nf, delay, uf.f AS f
               FROM v, unnest(range(0, nf, 2)) AS uf(f)),
        p AS (SELECT video_id, w, h, nf, delay, f, ux.x AS x, uy.y AS y
              FROM fr, unnest(range(w)) AS ux(x), unnest(range(h)) AS uy(y)),
        m AS (SELECT video_id, f, nf, w, h, delay,
          avg(CAST((x*7 + y*13 + video_id + f*17) % 256 AS DOUBLE)) AS mr,
          avg(CAST((x*3 + y*5 + 2*video_id + f*29) % 256 AS DOUBLE)) AS mg,
          avg(CAST((x*11 + y + 3*video_id + f*5) % 256 AS DOUBLE)) AS mb
        FROM p GROUP BY video_id, f, nf, w, h, delay)
        SELECT video_id, CAST(f AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(f * delay AS BIGINT) AS ts_cs,
          round(mr, 4) AS mean_r, round(mg, 4) AS mean_g, round(mb, 4) AS mean_b
        FROM m"""

  /** MJPEG-AVI oracle: container fields, sampled-frame set and the
    * usPerFrame timeline re-derived from the id formulas (exact);
    * frame pixels are JPEG-lossy, so the decode is pinned by the
    * error-bound booleans the engine computes (oracle expects true —
    * a broken RIFF walk or JPEG path flips them and hash-mismatches). */
  val qMultimodalAvi: String =
    s"""WITH v AS (SELECT img_id AS video_id, 16 + 8 * (img_id % 3) AS w,
          16 + 8 * (img_id % 2) AS h, 3 + img_id % 4 AS nf,
          40000 + 20000 * (img_id % 3) AS us FROM ${inp("bmp_ids")}),
        fr AS (SELECT video_id, w, h, nf, us, uf.f AS f
               FROM v, unnest(range(0, nf, 2)) AS uf(f))
        SELECT video_id, CAST(f AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(f * us AS BIGINT) AS ts_us,
          true AS r_ok, true AS g_ok, true AS b_ok
        FROM fr"""

  /** WAV decode oracle: container fields + exact integer sample sums
    * re-derived from the formula s_i = ((i·37 + id·101) % 4096) − 2048. */
  val qMultimodalWav: String =
    s"""WITH a AS (SELECT img_id AS audio_id,
          8000 + (img_id % 3) * 4000 AS rate,
          800 + (img_id % 5) * 400 AS ns FROM ${inp("bmp_ids")}),
        s AS (SELECT audio_id, rate, ns,
            ((u.i * 37 + audio_id * 101) % 4096) - 2048 AS v
          FROM a, unnest(range(ns)) AS u(i)),
        m AS (SELECT audio_id, min(rate) AS rate, min(ns) AS ns,
            sum(v) AS sv, sum(v * v) AS svq
          FROM s GROUP BY audio_id)
        SELECT audio_id, CAST(rate AS INT) AS sample_rate,
          CAST(1 AS INT) AS channels, CAST(ns AS BIGINT) AS n_samples,
          round(CAST(sv AS DOUBLE) / ns, 4) AS mean_amp,
          round(sqrt(CAST(svq AS DOUBLE) / ns), 4) AS rms
        FROM m"""

  /** REAL decode + resize oracle: nearest-neighbor source coordinates
    * (x·w÷3, y·h÷2) re-derived per output pixel, means from the
    * generator formula at those coordinates. */
  val qMultimodalBmpResize: String =
    s"""WITH imgs AS (SELECT img_id, 4 + img_id % 5 AS w, 3 + img_id % 4 AS h
          FROM ${inp("bmp_ids")}),
        p AS (SELECT img_id, w, h, ux.x AS x, uy.y AS y
              FROM imgs, unnest(range(3)) AS ux(x), unnest(range(2)) AS uy(y)),
        s AS (SELECT img_id, (x * w) // 3 AS sx, (y * h) // 2 AS sy FROM p),
        m AS (SELECT img_id,
          avg(CAST((sx*7 + sy*13 + img_id) % 256 AS DOUBLE)) AS mr,
          avg(CAST((sx*3 + sy*5 + 2*img_id) % 256 AS DOUBLE)) AS mg,
          avg(CAST((sx*11 + sy + 3*img_id) % 256 AS DOUBLE)) AS mb
        FROM s GROUP BY img_id)
        SELECT img_id, 3 AS out_w, 2 AS out_h,
          round(mr, 4) AS mean_r, round(mg, 4) AS mean_g, round(mb, 4) AS mean_b
        FROM m"""

  /** Token counts + rolling polynomial fingerprint, all recomputed
    * exactly (unicode fold seeded by a prepended 0 == Spark's
    * aggregate initial accumulator). */
  val qTextTokens: String =
    s"""SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe,
          list_reduce(
            list_prepend(0::BIGINT,
              list_transform(
                string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ''),
                c -> unicode(c)::BIGINT)),
            (acc, c) -> (acc * 257 + c) % 2147483647) AS rolling_fp
        FROM documents WHERE length(text) > 0"""

  // ---------------- kg pipeline stages over dumped intermediates ----------------

  /** P/R = 1.0 is a tested invariant of the closed corpus, so the gold
    * table IS the expected deduped triple set — the strongest oracle:
    * the whole NLP pipeline must reproduce it exactly. */
  val kgTriples: String =
    s"""SELECT url, subj, pred, obj FROM ${inp("gold")}"""

  val kgEvalPrf: String =
    s"""WITH p AS (SELECT DISTINCT url, subj, pred, obj FROM ${out("kg_triples")}),
        g AS (SELECT DISTINCT url, subj, pred, obj FROM ${inp("gold")}),
        j AS (SELECT CASE WHEN p.url IS NOT NULL AND g.url IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
                     CASE WHEN p.url IS NOT NULL AND g.url IS NULL THEN 1 ELSE 0 END AS is_fp,
                     CASE WHEN p.url IS NULL AND g.url IS NOT NULL THEN 1 ELSE 0 END AS is_fn
              FROM p FULL OUTER JOIN g
                ON p.url = g.url AND p.subj = g.subj AND p.pred = g.pred AND p.obj = g.obj),
        c AS (SELECT CAST(sum(is_tp) AS BIGINT) AS tp, CAST(sum(is_fp) AS BIGINT) AS fp,
                     CAST(sum(is_fn) AS BIGINT) AS fn FROM j)
        SELECT tp, fp, fn,
          tp / (tp + fp) AS precision, tp / (tp + fn) AS recall,
          2 * (tp / (tp + fp)) * (tp / (tp + fn)) /
            ((tp / (tp + fp)) + (tp / (tp + fn))) AS f1
        FROM c"""

  val kgEvalAggregate: String =
    s"""WITH p AS (SELECT DISTINCT url, subj, pred, obj FROM ${out("kg_triples")}),
        g AS (SELECT DISTINCT url, subj, pred, obj FROM ${inp("gold")}),
        j AS (SELECT coalesce(p.url, g.url) AS url,
                     CASE WHEN p.url IS NOT NULL AND g.url IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
                     CASE WHEN p.url IS NOT NULL AND g.url IS NULL THEN 1 ELSE 0 END AS is_fp,
                     CASE WHEN p.url IS NULL AND g.url IS NOT NULL THEN 1 ELSE 0 END AS is_fn
              FROM p FULL OUTER JOIN g
                ON p.url = g.url AND p.subj = g.subj AND p.pred = g.pred AND p.obj = g.obj),
        pc AS (SELECT url, sum(is_tp) AS tp, sum(is_fp) AS fp, sum(is_fn) AS fn
               FROM j GROUP BY url),
        pm AS (SELECT url, tp, fp, fn,
                 CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
                 CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall
               FROM pc),
        pf AS (SELECT *, CASE WHEN precision + recall = 0 THEN 0.0
                 ELSE 2 * precision * recall / (precision + recall) END AS f1 FROM pm)
        SELECT *, CASE WHEN avg_f1 >= 0.9::DOUBLE THEN 'excellent'
                       WHEN avg_f1 >= 0.75::DOUBLE THEN 'good'
                       WHEN avg_f1 >= 0.6::DOUBLE THEN 'fair'
                       ELSE 'needs_improvement' END AS quality
        FROM (SELECT CAST(count(*) AS BIGINT) AS n_cases,
          round(avg(precision), 6) AS avg_precision,
          round(avg(recall), 6) AS avg_recall,
          round(avg(f1), 6) AS avg_f1,
          CAST(sum(tp) AS BIGINT) AS total_tp,
          CAST(sum(fp) AS BIGINT) AS total_fp,
          CAST(sum(fn) AS BIGINT) AS total_fn
        FROM pf)"""

  val kgEntityTable: String =
    s"""SELECT url, name_lc, canonical_name, entity_type, first_chunk_id,
          first_mention_offset, n_mentions FROM (
          SELECT url, lower(surface) AS name_lc, surface AS canonical_name,
            entity_type, chunk_id AS first_chunk_id, "start" AS first_mention_offset,
            row_number() OVER (PARTITION BY url, lower(surface)
              ORDER BY chunk_id, "start") AS rn,
            CAST(count(*) OVER (PARTITION BY url, lower(surface)) AS BIGINT) AS n_mentions
          FROM ${inp("mentions")})
        WHERE rn = 1"""

  val kgLastEntityOfType: String =
    s"""SELECT url, entity_type, last_entity, n_of_type FROM (
          SELECT url, entity_type, canonical_name AS last_entity,
            row_number() OVER (PARTITION BY url, entity_type
              ORDER BY first_chunk_id DESC, first_mention_offset DESC, name_lc DESC) AS rn,
            CAST(count(*) OVER (PARTITION BY url, entity_type) AS BIGINT) AS n_of_type
          FROM ${out("kg_entity_table")})
        WHERE rn = 1"""

  val kgEntityProps: String =
    s"""SELECT url, subj, pred, obj AS last_obj FROM (
          SELECT url, subj, pred, obj,
            row_number() OVER (PARTITION BY url, subj, pred
              ORDER BY chunk_id DESC, sent_idx DESC, obj DESC) AS rn
          FROM ${inp("triples")})
        WHERE rn = 1"""

  /** A3 on the node table re-derived: per-(surface, pred) last write,
    * then per-(iri, pred) last write among surface winners — equal to
    * Pipeline.nodePropsFromVocab's single (iri, pred) max_by (a max of
    * maxes is the global max), with the vocabulary rollup + linking +
    * mint from the kg_nodes_edges CTEs. */
  val kgNodeProps: String =
    s"""WITH t AS (SELECT * FROM ${inp("triples")}),
        links AS (SELECT surface, uri FROM ${out("kg_links")}),
        surfaces AS (SELECT surface, slug FROM (
          SELECT surface, entity_type, slug,
            row_number() OVER (PARTITION BY surface ORDER BY entity_type, slug) AS rn
          FROM (SELECT subj_surface AS surface, subj_type AS entity_type, subj AS slug FROM t
                UNION ALL
                SELECT obj, obj_type, obj_slug FROM t WHERE obj_is_entity))
          WHERE rn = 1),
        si AS (SELECT s.surface,
                 coalesce(l.uri, 'https://kg.local/e/' || s.slug || '-' ||
                   substr(md5(s.surface), 1, 8)) AS iri
               FROM surfaces s LEFT JOIN links l USING (surface)),
        lw AS (SELECT subj_surface AS surface, pred, obj, url, chunk_id, sent_idx FROM (
                 SELECT *, row_number() OVER (PARTITION BY subj_surface, pred
                   ORDER BY url DESC, chunk_id DESC, sent_idx DESC, obj DESC) AS rn
                 FROM t) WHERE rn = 1)
        SELECT iri, pred, obj AS last_obj FROM (
          SELECT si.iri, lw.pred, lw.obj,
            row_number() OVER (PARTITION BY si.iri, lw.pred
              ORDER BY lw.url DESC, lw.chunk_id DESC, lw.sent_idx DESC, lw.obj DESC) AS rn
          FROM lw JOIN si USING (surface))
        WHERE rn = 1"""

  val kgContextSummary: String =
    s"""WITH l AS (SELECT e.url,
          '- ' || e.canonical_name || ' (' || e.entity_type || ')' ||
          CASE WHEN a.aliases IS NOT NULL AND len(a.aliases) > 0
               THEN ' [also called: ' || array_to_string(a.aliases, ', ') || ']'
               ELSE '' END AS line
        FROM ${out("kg_entity_table")} e
        LEFT JOIN ${inp("aliases")} a
          ON e.url = a.url AND e.name_lc = a.canonical_lc)
        SELECT url,
          'ENTITIES ALREADY DISCOVERED IN THIS DOCUMENT:' || chr(10) ||
            string_agg(line, chr(10) ORDER BY line) AS context_summary,
          CAST(count(*) AS BIGINT) AS n_entities
        FROM l GROUP BY url"""

  val kgValidate: String = {
    val dateList = Validate.dateProps.map(p => s"'$p'").mkString(", ")
    val nameTypes = Seq("Person", "Organization", "EducationalOrganization",
      "Place", "Event", "Airport").map(t => s"'$t'").mkString(", ")
    s"""WITH e AS (SELECT url, subj,
          min(subj_type) AS entity_type, min(subj_surface) AS name,
          count(DISTINCT CASE WHEN pred IN ($dateList)
            AND NOT (length(obj) = 10 AND substr(obj,5,1) = '-' AND substr(obj,8,1) = '-')
            THEN pred END) AS n_bad_dates
        FROM ${inp("triples")} GROUP BY url, subj),
        v AS (SELECT url, subj, n_bad_dates,
          CASE WHEN subj IS NULL OR length(trim(subj)) = 0
                 OR entity_type IS NULL OR length(trim(entity_type)) = 0
               THEN 1 ELSE 0 END AS broken,
          CASE WHEN entity_type IN ($nameTypes)
                 AND (name IS NULL OR length(trim(name)) = 0)
               THEN 1 ELSE 0 END AS name_missing
        FROM e),
        c AS (SELECT url, subj, broken, name_missing, n_bad_dates,
          CASE WHEN broken = 1 THEN 0.5::DOUBLE
               ELSE greatest(0.0::DOUBLE, least(1.0::DOUBLE,
                 1.0::DOUBLE - 0.2::DOUBLE*name_missing - 0.05::DOUBLE*n_bad_dates))
          END AS conf
        FROM v)
        SELECT url, subj,
          CAST(CASE WHEN broken = 1 THEN 1 ELSE name_missing + n_bad_dates END AS INT)
            AS n_violations,
          round(conf, 4) AS confidence,
          (broken = 0 AND name_missing = 0 AND conf >= 0.7) AS valid
        FROM c"""
  }

  /** DuckDB string expression for a Scala string containing newlines
    * (joined with chr(10); single quotes doubled). */
  private def sqlStr(s: String): String =
    s.split("\n", -1).map(p => s"'${p.replace("'", "''")}'").mkString("||chr(10)||")

  /** O1 retry-feedback oracle: the per-entity validation verdict plus
    * the reference's generate_validation_error_message templates
    * (extractor.rs:189-218) rebuilt in SQL from the dumped triples. */
  val kgRetryFeedback: String = {
    val dateList = Validate.dateProps.map(p => s"'$p'").mkString(", ")
    val nameRules = Validate.schemaOrgRules
      .flatMap(r => r.entityType.map(t => s"WHEN '$t' THEN '${r.name}'")).mkString(" ")
    val schemaSuffix = sqlStr("\n\nPlease ensure:\n" +
      "- @context is set to \"https://schema.org/\"\n" +
      "- @type is present and valid (Person, Organization, Place, Event, etc.)\n" +
      "- All required properties for the entity type are included\n" +
      "- Property names match Schema.org vocabulary")
    val missingSuffix = sqlStr("\n\nPlease ensure:\n" +
      "- All required Schema.org properties are present\n" +
      "- Field names are spelled correctly\n" +
      "- Values are not null or empty")
    val structMsg = sqlStr("Basic validation failed: missing @type/@context " +
      "analogue (blank subject or entity type)")
    s"""WITH plant AS (SELECT * FROM (
          SELECT url || '#plant' || rn AS url, subj,
            CASE WHEN rn = 1 THEN '' ELSE 'Person' END AS subj_type,
            CASE WHEN rn = 2 THEN '' ELSE subj_surface END AS subj_surface,
            pred, obj
          FROM (SELECT url, subj, subj_type, subj_surface, pred, obj,
                  row_number() OVER (ORDER BY url, subj, pred, obj) AS rn
                FROM ${inp("triples")})
          WHERE rn <= 2)),
        t AS (SELECT url, subj, subj_type, subj_surface, pred, obj
              FROM ${inp("triples")}
              UNION ALL SELECT * FROM plant),
        e AS (SELECT url, subj,
          min(subj_type) AS entity_type, min(subj_surface) AS name,
          count(DISTINCT CASE WHEN pred IN ($dateList)
            AND NOT (length(obj) = 10 AND substr(obj,5,1) = '-' AND substr(obj,8,1) = '-')
            THEN pred END) AS n_bad_dates
        FROM t GROUP BY url, subj),
        v AS (SELECT url, subj, entity_type, n_bad_dates,
          CASE WHEN subj IS NULL OR length(trim(subj)) = 0
                 OR entity_type IS NULL OR length(trim(entity_type)) = 0
               THEN 1 ELSE 0 END AS broken,
          CASE WHEN entity_type IN (SELECT unnest([${Validate.schemaOrgRules
            .flatMap(_.entityType).map(t => s"'$t'").mkString(", ")}]))
                 AND (name IS NULL OR length(trim(name)) = 0)
               THEN 1 ELSE 0 END AS name_missing
        FROM e),
        c AS (SELECT *, CASE WHEN broken = 1 THEN 0.5::DOUBLE
               ELSE greatest(0.0::DOUBLE, least(1.0::DOUBLE,
                 1.0::DOUBLE - 0.2::DOUBLE*name_missing - 0.05::DOUBLE*n_bad_dates))
          END AS conf FROM v)
        SELECT url, subj,
          (broken = 0 AND name_missing = 0 AND conf >= 0.7) AS valid,
          CASE WHEN broken = 0 AND name_missing = 0 AND conf >= 0.7 THEN NULL
               WHEN broken = 1 THEN 'basic_structure'
               WHEN name_missing = 1 THEN (CASE entity_type $nameRules END)
               ELSE 'low_confidence' END AS feedback_rule,
          CASE WHEN broken = 0 AND name_missing = 0 AND conf >= 0.7 THEN NULL
               WHEN broken = 1
                 THEN 'Schema Validation Error: '||$structMsg||$schemaSuffix
               WHEN name_missing = 1
                 THEN 'Missing Required Field: name'||$missingSuffix
               ELSE 'Extraction Error: validation failed with '||n_bad_dates||
                 ' warning(s)'||chr(10)||chr(10)||'Please try again with valid JSON-LD.'
          END AS feedback
        FROM c"""
  }

  /** WARC-ingest oracle: the engine's url/n_chars/md5 after the full
    * html→WARC→gzip→parse→extract round-trip must equal the directly
    * generated text (byte-identity through the real input format). */
  val kgWarcIngest: String =
    s"""SELECT url, CAST(length(text) AS BIGINT) AS n_chars,
          md5(text) AS text_md5
        FROM ${inp("pages_text")}"""

  val kgWindowedCounts: String =
    s"""SELECT date_trunc('hour', p.warc_ts) AS win_start, t.pred,
          CAST(count(*) AS BIGINT) AS n_triples
        FROM ${out("kg_triples")} t
        JOIN ${inp("pages_ts")} p USING (url)
        GROUP BY 1, 2"""

  private val predCase: String = {
    val whens = PredDict.wikidataToSchema.toSeq.sortBy(_._1).map { case (k, v) =>
      s"WHEN '$k' THEN '${Porter.stemPredicate(v)}'"
    }.mkString(" ")
    s"CASE r $whens END"
  }
  private val wikidataKeys: String =
    PredDict.wikidataToSchema.keys.toSeq.sorted.map(k => s"'$k'").mkString(", ")

  /** Slug via regexp — exact parity with the kernel on letter/space
    * names (pinned by the q_slug oracle round 1). */
  private def slugExpr(e: String) =
    s"trim(regexp_replace(lower($e), '[^a-z0-9]+', '_', 'g'), '_')"

  private def docredDenormBody(input: String): String =
    s"""fm AS (SELECT id,
          unnest(range(len(vertexSet))) AS vidx,
          unnest(list_transform(vertexSet, c -> c[1].name)) AS first_name,
          unnest(list_transform(vertexSet, c -> c[1].sent_id)) AS first_sent
        FROM ${inp(input)}),
        lab AS (SELECT id, u.h AS h, u.t AS t, u.r AS r FROM (
          SELECT id, unnest(labels) AS u FROM ${inp(input)})
          WHERE u.r IN ($wikidataKeys)),
        den AS (SELECT lab.id,
          ${slugExpr("hm.first_name")} AS subj,
          $predCase AS pred,
          tm.first_name AS obj,
          hm.first_sent AS h_sent, tm.first_sent AS t_sent
        FROM lab
        JOIN fm hm ON lab.id = hm.id AND lab.h = hm.vidx
        JOIN fm tm ON lab.id = tm.id AND lab.t = tm.vidx)"""

  val kgDocredDenorm: String =
    s"""WITH ${docredDenormBody("docred")} SELECT id, subj, pred, obj, h_sent, t_sent FROM den"""

  val kgDocredCrossSentence: String =
    s"""WITH ${docredDenormBody("docred")}
        SELECT id, CAST(count(*) AS BIGINT) AS n_relations,
          CAST(sum(CASE WHEN h_sent <> t_sent THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cross_sentence
        FROM den GROUP BY id"""

  /** Same denorm arithmetic over the REAL reference fixture (dumped by
    * Verify from the executor-side JSON ingest). */
  val docredRealDenorm: String =
    s"""WITH ${docredDenormBody("docred_real")} SELECT id, subj, pred, obj, h_sent, t_sent FROM den"""

  val docredRealCrossSentence: String =
    s"""WITH ${docredDenormBody("docred_real")}
        SELECT id, CAST(count(*) AS BIGINT) AS n_relations,
          CAST(sum(CASE WHEN h_sent <> t_sent THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cross_sentence
        FROM den GROUP BY id"""

  /** Linking (J1-J5) re-implemented in SQL: exact case-insensitive match
    * at 0.95, else first-token-blocked Jaro-Winkler >= 0.8, top-1 per
    * surface by (confidence desc, uri asc). DuckDB's
    * jaro_winkler_similarity uses the standard parameters (prefix 4,
    * scale 0.1, boost threshold 0.7) — the same algorithm as the kernel. */
  val kgLinks: String =
    s"""WITH s AS (SELECT DISTINCT surface, lower(surface) AS surface_lc FROM (
          SELECT subj_surface AS surface FROM ${inp("triples")}
          UNION ALL
          SELECT obj AS surface FROM ${inp("triples")} WHERE obj_is_entity)),
        kb AS (SELECT uri, label_lc FROM ${inp("kb")}),
        ex AS (SELECT s.surface, kb.uri, 0.95::DOUBLE AS confidence
               FROM s JOIN kb ON s.surface_lc = kb.label_lc),
        miss AS (SELECT * FROM s
                 WHERE surface_lc NOT IN (SELECT label_lc FROM kb)),
        fz0 AS (SELECT m.surface, kb.uri,
                  jaro_winkler_similarity(kb.label_lc, m.surface_lc) AS confidence
                FROM miss m JOIN kb
                  ON list_contains(string_split(kb.label_lc, ' '),
                                   split_part(m.surface_lc, ' ', 1))
                 AND contains(kb.label_lc, m.surface_lc)),
        fz AS (SELECT surface, uri, confidence FROM (
                 SELECT *, row_number() OVER (PARTITION BY surface
                   ORDER BY confidence DESC, uri ASC) AS rn
                 FROM fz0 WHERE confidence >= 0.8 AND confidence >= 0.5)
               WHERE rn = 1)
        SELECT surface, uri, round(confidence, 4) AS link_confidence FROM ex
        UNION ALL
        SELECT surface, uri, round(confidence, 4) AS link_confidence FROM fz"""

  /** Graph build from dumped triples + the (itself oracle-checked)
    * kg_links output: vocabulary rollup, md5 IRI minting, node dedup,
    * edge join-back — the whole relational graph stage re-derived. */
  val kgNodesEdges: String =
    s"""WITH t AS (SELECT * FROM ${inp("triples")}),
        links AS (SELECT surface, uri FROM ${out("kg_links")}),
        surfaces AS (SELECT surface, entity_type, slug FROM (
          SELECT surface, entity_type, slug,
            row_number() OVER (PARTITION BY surface ORDER BY entity_type, slug) AS rn
          FROM (SELECT subj_surface AS surface, subj_type AS entity_type, subj AS slug FROM t
                UNION ALL
                SELECT obj, obj_type, obj_slug FROM t WHERE obj_is_entity))
          WHERE rn = 1),
        si AS (SELECT s.surface, s.entity_type, s.slug,
                 coalesce(l.uri, 'https://kg.local/e/' || s.slug || '-' ||
                   substr(md5(s.surface), 1, 8)) AS iri
               FROM surfaces s LEFT JOIN links l USING (surface))
        SELECT
          (SELECT CAST(count(DISTINCT iri) AS BIGINT) FROM si) AS n_nodes,
          (SELECT CAST(count(*) AS BIGINT) FROM t JOIN si ON t.subj_surface = si.surface) AS n_edges,
          (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_triples,
          (SELECT CAST(sum(CASE WHEN subj_type <> '' THEN 1 ELSE 0 END) AS BIGINT) FROM t) AS n_typed"""

  /** JSON string escape matching kernel JsonLd.render's esc() for the
    * characters that can occur in corpus values (backslash first, then
    * quote and the whitespace controls). */
  private def jesc(e: String): String =
    s"replace(replace(replace(replace(replace($e," +
      s" '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t')"

  /** canonical (stemmed) predicate → Schema.org property for emission
    * (PredDict.canonicalToSchema embedded verbatim). */
  private val schemaKeyCase: String = {
    val whens = PredDict.canonicalToSchema.toSeq.sorted.map { case (k, v) =>
      s"WHEN '$k' THEN '$v'"
    }.mkString(" ")
    s"CASE pred $whens ELSE pred END"
  }

  /** T4⁻¹ oracle: rebuild every JSON-LD document STRING from the dumped
    * triple table — row order (chunk_id, sent_idx, pred, obj, subj),
    * subjects in first-appearance order, property keys in
    * first-appearance order, values in row order, multi-values as
    * arrays, merge_chunks' 1-entity/N-entity document shapes
    * (types.rs:170-196, extractor.rs:495-550) — and hash-compare against
    * the emitted column. */
  val kgJsonldDocs: String =
    s"""WITH r AS (SELECT url, subj, subj_surface, subj_type, pred, obj,
          obj_is_entity, obj_type,
          row_number() OVER (PARTITION BY url
            ORDER BY chunk_id, sent_idx, pred, obj, subj) AS rn
        FROM ${inp("triples")}),
        k AS (SELECT url, subj, subj_surface, subj_type, rn,
          $schemaKeyCase AS skey,
          CASE WHEN obj_is_entity
            THEN '{"@type":"' || ${jesc("obj_type")} || '","name":"' || ${jesc("obj")} || '"}'
            ELSE '"' || ${jesc("obj")} || '"' END AS val
        FROM r),
        pk AS (SELECT url, subj, skey, min(rn) AS k_rn,
          list(val ORDER BY rn) AS vals
        FROM k GROUP BY url, subj, skey),
        pr AS (SELECT url, subj, k_rn,
          '"' || skey || '":' ||
          CASE WHEN len(vals) = 1 THEN vals[1]
               ELSE '[' || array_to_string(vals, ',') || ']' END AS prop
        FROM pk),
        sh AS (SELECT url, subj, min(rn) AS s_rn,
          arg_min(subj_surface, rn) AS name, arg_min(subj_type, rn) AS tpe
        FROM k GROUP BY url, subj),
        pj AS (SELECT url, subj,
          array_to_string(list(prop ORDER BY k_rn), ',') AS props
        FROM pr GROUP BY url, subj),
        ent AS (SELECT sh.url, sh.s_rn,
          '{"@type":"' || ${jesc("sh.tpe")} || '","name":"' || ${jesc("sh.name")} || '",' ||
          pj.props || '}' AS e
        FROM sh JOIN pj USING (url, subj))
        SELECT url,
          CASE WHEN count(*) = 1
            THEN '{"@context":"https://schema.org/",' || substr(min(e), 2)
            ELSE '{"@context":"https://schema.org/","@graph":[' ||
              array_to_string(list(e ORDER BY s_rn), ',') || ']}' END AS jsonld
        FROM ent GROUP BY url"""

  /** Shared edge-graph CTEs for the graph-analytics oracles: vocabulary
    * rollup + linking + md5 mint (as kg_nodes_edges), then the entity
    * edges with multiplicity (gem — one row per triple) and distinct
    * (ge). */
  private val graphEdgeCtes: String =
    s"""t AS (SELECT * FROM ${inp("triples")}),
        links AS (SELECT surface, uri FROM ${out("kg_links")}),
        surfaces AS (SELECT surface, entity_type, slug FROM (
          SELECT surface, entity_type, slug,
            row_number() OVER (PARTITION BY surface ORDER BY entity_type, slug) AS rn
          FROM (SELECT subj_surface AS surface, subj_type AS entity_type, subj AS slug FROM t
                UNION ALL
                SELECT obj, obj_type, obj_slug FROM t WHERE obj_is_entity))
          WHERE rn = 1),
        si AS (SELECT s.surface,
                 coalesce(l.uri, 'https://kg.local/e/' || s.slug || '-' ||
                   substr(md5(s.surface), 1, 8)) AS iri
               FROM surfaces s LEFT JOIN links l USING (surface)),
        gem AS (SELECT ss.iri AS src_iri, so.iri AS dst_iri
                FROM t
                JOIN si ss ON t.subj_surface = ss.surface
                JOIN si so ON t.obj = so.surface
                WHERE t.obj_is_entity),
        ge AS (SELECT DISTINCT src_iri, dst_iri FROM gem)"""

  /** Streaming-parity oracle: the BATCH edge derivation (the same
    * lineage kg_nodes_edges/kg_degrees already prove) restricted to
    * the streamed corpus slice (url id % 5 == 0) — the streamed union
    * of per-micro-batch edge builds must equal it row-for-row. The
    * surface→IRI map is a pure function of (surface, KB), which is
    * exactly why per-batch linking composes to the batch answer. */
  val kgStreamParity: String =
    s"""WITH t0 AS (SELECT * FROM ${inp("triples")}),
        t AS (SELECT * FROM t0
              WHERE CAST(regexp_extract(url, '-([0-9]+)$$', 1) AS BIGINT) % 5 = 0),
        links AS (SELECT surface, uri FROM ${out("kg_links")}),
        surfaces AS (SELECT surface, slug FROM (
          SELECT surface, slug,
            row_number() OVER (PARTITION BY surface ORDER BY entity_type, slug) AS rn
          FROM (SELECT subj_surface AS surface, subj_type AS entity_type, subj AS slug FROM t
                UNION ALL
                SELECT obj, obj_type, obj_slug FROM t WHERE obj_is_entity))
          WHERE rn = 1),
        si AS (SELECT s.surface,
                 coalesce(l.uri, 'https://kg.local/e/' || s.slug || '-' ||
                   substr(md5(s.surface), 1, 8)) AS iri
               FROM surfaces s LEFT JOIN links l USING (surface))
        SELECT ss.iri AS src_iri, t.pred,
          CASE WHEN t.obj_is_entity THEN so.iri END AS dst_iri,
          CASE WHEN NOT t.obj_is_entity THEN t.obj END AS obj_literal,
          NOT t.obj_is_entity AS is_literal,
          t.url, t.confidence, t.chunk_id, t.span_start, t.span_end, t.source_text
        FROM t
        JOIN si ss ON t.subj_surface = ss.surface
        LEFT JOIN si so ON t.obj = so.surface"""

  /** Node-side streaming-parity oracle: the BATCH node derivation
    * (vocabulary rollup + linking + md5 mint + per-IRI min-(name,type)
    * dedup — the kg_nodes_edges lineage) over the streamed corpus
    * slice. The streamed fold of per-micro-batch node deltas must equal
    * it row-for-row: a surface's node row is a pure function of
    * (surface, KB) and the per-IRI reduce is associative. */
  val kgStreamParityNodes: String =
    s"""WITH t0 AS (SELECT * FROM ${inp("triples")}),
        t AS (SELECT * FROM t0
              WHERE CAST(regexp_extract(url, '-([0-9]+)$$', 1) AS BIGINT) % 5 = 0),
        links AS (SELECT surface, uri FROM ${out("kg_links")}),
        surfaces AS (SELECT surface, entity_type, slug FROM (
            SELECT surface, entity_type, slug,
              row_number() OVER (PARTITION BY surface ORDER BY entity_type, slug) AS rn
            FROM (SELECT subj_surface AS surface, subj_type AS entity_type, subj AS slug FROM t
                  UNION ALL
                  SELECT obj, obj_type, obj_slug FROM t WHERE obj_is_entity))
          WHERE rn = 1),
        si AS (SELECT s.surface, s.entity_type, s.slug,
                 coalesce(l.uri, 'https://kg.local/e/' || s.slug || '-' ||
                   substr(md5(s.surface), 1, 8)) AS iri
               FROM surfaces s LEFT JOIN links l USING (surface))
        SELECT iri, entity_type, surface AS name, slug FROM (
          SELECT iri, entity_type, surface, slug,
            row_number() OVER (PARTITION BY iri ORDER BY surface, entity_type) AS rn
          FROM si) WHERE rn = 1"""

  val kgDegrees: String =
    s"""WITH $graphEdgeCtes,
        o AS (SELECT src_iri AS iri, CAST(count(*) AS BIGINT) AS out_deg
              FROM gem GROUP BY src_iri),
        i AS (SELECT dst_iri AS iri, CAST(count(*) AS BIGINT) AS in_deg
              FROM gem GROUP BY dst_iri)
        SELECT coalesce(o.iri, i.iri) AS iri,
          coalesce(o.out_deg, 0) AS out_deg, coalesce(i.in_deg, 0) AS in_deg
        FROM o FULL OUTER JOIN i ON o.iri = i.iri"""

  /** Components oracle: transitive closure over the re-derived
    * distinct entity edges via a recursive CTE DIRECTLY on the IRI
    * strings (no fingerprint — the independent derivation of the
    * engine's fp-keyed union-find + min(iri) relabel), component =
    * lexicographic min reachable IRI. */
  val kgComponents: String =
    s"""WITH RECURSIVE $graphEdgeCtes,
        ed AS (SELECT src_iri AS src, dst_iri AS dst FROM ge
               UNION SELECT dst_iri, src_iri FROM ge),
        reach(id, r) AS (
          SELECT src, src FROM ed
          UNION
          SELECT e.dst, reach.r FROM reach JOIN ed e ON e.src = reach.id)
        SELECT id AS iri, min(r) AS component FROM reach GROUP BY id"""

  val kgTwoHop: String =
    s"""WITH $graphEdgeCtes,
        seeds AS (SELECT DISTINCT src_iri AS seed FROM ge ORDER BY seed LIMIT 3),
        h1 AS (SELECT DISTINCT s.seed, e.dst_iri AS iri
               FROM seeds s JOIN ge e ON s.seed = e.src_iri),
        h2 AS (SELECT DISTINCT h1.seed, e.dst_iri AS iri
               FROM h1 JOIN ge e ON h1.iri = e.src_iri)
        SELECT seed, iri, CAST(min(hop) AS INT) AS hop FROM (
          SELECT seed, iri, 1 AS hop FROM h1
          UNION ALL
          SELECT seed, iri, 2 AS hop FROM h2)
        GROUP BY seed, iri"""

  /** BGP oracle: the two-pattern conjunction as an explicit self-join of
    * the re-derived distinct (s, p, o) view (object = entity IRI or
    * literal verbatim). */
  val kgBgp: String = {
    val worksfor = Porter.stemPredicate("worksFor")
    val birthplace = Porter.stemPredicate("birthPlace")
    s"""WITH $graphEdgeCtes,
        spo AS (SELECT DISTINCT ss.iri AS s, t.pred AS p,
            CASE WHEN t.obj_is_entity THEN so.iri ELSE t.obj END AS o
          FROM t
          JOIN si ss ON t.subj_surface = ss.surface
          LEFT JOIN si so ON t.obj = so.surface)
        SELECT DISTINCT a.s AS person, a.o AS org, b.o AS city
        FROM spo a JOIN spo b ON a.s = b.s
        WHERE a.p = '$worksfor' AND b.p = '$birthplace'"""
  }

  /** Fixed-iteration PageRank unrolled: pr_0 = 1/N,
    * pr_{i+1} = (1-d)/N + d·Σ pr_i(src)/outdeg(src) — the identical
    * formula the engine evaluates (no dangling redistribution). */
  val kgPagerank: String = {
    val iters = 5
    val chain = (1 to iters).map { i =>
      s"""p$i AS (SELECT nd.iri,
            (1.0::DOUBLE - 0.85::DOUBLE) / cnt.n + 0.85::DOUBLE *
              coalesce(c.contrib, 0.0::DOUBLE) AS pr
          FROM nd CROSS JOIN cnt
          LEFT JOIN (SELECT ed.dst_iri AS iri, sum(p.pr / ed.out_deg) AS contrib
                     FROM ed JOIN p${i - 1} p ON ed.src_iri = p.iri
                     GROUP BY ed.dst_iri) c ON nd.iri = c.iri)"""
    }.mkString(",\n")
    s"""WITH $graphEdgeCtes,
        nd AS (SELECT DISTINCT iri FROM (
          SELECT src_iri AS iri FROM ge UNION ALL SELECT dst_iri FROM ge)),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
        od AS (SELECT src_iri, CAST(count(*) AS BIGINT) AS out_deg
               FROM ge GROUP BY src_iri),
        ed AS (SELECT ge.src_iri, ge.dst_iri, od.out_deg
               FROM ge JOIN od USING (src_iri)),
        p0 AS (SELECT nd.iri, 1.0::DOUBLE / cnt.n AS pr FROM nd CROSS JOIN cnt),
        $chain
        SELECT iri, round(pr, 6) AS pagerank FROM p$iters"""
  }

  /** Triangle-count oracle: canonical a<b<c three-way self-join over
    * the re-derived undirected distinct entity graph, one count per
    * corner. */
  val kgTriangles: String =
    s"""WITH $graphEdgeCtes,
        und AS (SELECT DISTINCT least(src_iri, dst_iri) AS a,
            greatest(src_iri, dst_iri) AS b
          FROM ge WHERE src_iri <> dst_iri),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM und e1
          JOIN und e2 ON e1.b = e2.a
          JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
        c AS (SELECT unnest([x, y, z]) AS iri FROM tri)
        SELECT iri, CAST(count(*) AS BIGINT) AS n_triangles
        FROM c GROUP BY iri"""

  /** WebNLG gold denorm re-derived from the dumped entry rows: unnest
    * mtriples, split on " | ", strip literal quotes. */
  val webnlgTriples: String =
    s"""SELECT eid, category,
          trim(split_part(m, ' | ', 1)) AS subj,
          trim(split_part(m, ' | ', 2)) AS pred,
          trim(trim(split_part(m, ' | ', 3)), '"') AS obj
        FROM (SELECT eid, category, unnest(mtriples) AS m FROM ${inp("webnlg")})"""

  /** Per-category PRF re-derived from the dumped (normalized) predicted
    * + gold triple tables — the eval arithmetic under oracle. */
  val webnlgEval: String =
    s"""WITH p AS (SELECT DISTINCT eid, category, subj, pred, obj, 1 AS in_pred
          FROM ${inp("webnlg_pred")}),
        g AS (SELECT DISTINCT eid, category, subj, pred, obj, 1 AS in_gold
          FROM ${inp("webnlg_gold")}),
        j AS (SELECT coalesce(p.category, g.category) AS category,
                coalesce(p.eid, g.eid) AS eid,
                p.in_pred, g.in_gold
              FROM p FULL OUTER JOIN g
                ON p.eid = g.eid AND p.category = g.category AND p.subj = g.subj
                  AND p.pred = g.pred AND p.obj = g.obj),
        c AS (SELECT category,
                CAST(count(DISTINCT eid) AS BIGINT) AS n_entries,
                CAST(sum(CASE WHEN in_pred IS NOT NULL AND in_gold IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN in_pred IS NOT NULL AND in_gold IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN in_pred IS NULL AND in_gold IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM j GROUP BY category)
        SELECT *, round(CASE WHEN precision + recall = 0 THEN 0.0::DOUBLE
            ELSE 2 * precision * recall / (precision + recall) END, 6) AS f1,
          CASE WHEN round(CASE WHEN precision + recall = 0 THEN 0.0::DOUBLE
                 ELSE 2 * precision * recall / (precision + recall) END, 6) >= 0.9::DOUBLE
                 THEN 'excellent'
               WHEN round(CASE WHEN precision + recall = 0 THEN 0.0::DOUBLE
                 ELSE 2 * precision * recall / (precision + recall) END, 6) >= 0.75::DOUBLE
                 THEN 'good'
               WHEN round(CASE WHEN precision + recall = 0 THEN 0.0::DOUBLE
                 ELSE 2 * precision * recall / (precision + recall) END, 6) >= 0.6::DOUBLE
                 THEN 'fair'
               ELSE 'needs_improvement' END AS quality
        FROM (SELECT category, n_entries, tp, fp, fn,
          round(CASE WHEN tp + fp = 0 THEN 0.0::DOUBLE ELSE tp / (tp + fp) END, 6) AS precision,
          round(CASE WHEN tp + fn = 0 THEN 0.0::DOUBLE ELSE tp / (tp + fn) END, 6) AS recall
        FROM c)"""

  /** All generated oracles, keyed by query name. */
  val all: Map[String, String] = Map(
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_simhash_pairs" -> qDedupSimhashPairs,
    "q_dedup_minhash_lsh" -> qDedupMinhashLsh,
    "q_dedup_clusters" -> qDedupClusters,
    "q_dedup_keep_best" -> qDedupKeepBest,
    "q_dedup_index_probe" -> qDedupIndexProbe,
    "q_text_repetition" -> qTextRepetition,
    "q_line_dedup" -> qLineDedup,
    "q_span_dedup" -> qSpanDedup,
    "q_pack_sequences" -> qPackSequences,
    "q_quantize_int8" -> qQuantizeInt8,
    "q_tfidf" -> qTfidf,
    "q_lm_score" -> qLmScore,
    "q_data_split" -> qDataSplit,
    "q_vocab_coverage" -> qVocabCoverage,
    "q_bpe_merges" -> qBpeMerges,
    "q_bpe_encode" -> qBpeEncode,
    "q_sessionize" -> qSessionize,
    "q_funnel" -> qFunnel,
    "q_retention" -> qRetention,
    "q_dsir_weights" -> qDsirWeights,
    "q_semdedup" -> qSemDedup,
    "q_bloom_seen" -> qBloomSeen,
    "q_cms_topk" -> qCmsTopk,
    "q_hll_distinct" -> qHllDistinct,
    "q_phrase_mine" -> qPhraseMine,
    "q_neg_sampling" -> qNegSampling,
    "q_percentiles" -> qPercentiles,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_quality_filter" -> qQualityFilter,
    "q_knn_lsh" -> qKnnLsh,
    "q_knn_lsh_multiprobe" -> qKnnLshMultiprobe,
    "q_knn_ivf" -> qKnnIvf,
    "q_knn_ivf_trained" -> qKnnIvfTrained,
    "q_knn_pq" -> qKnnPq,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_multimodal_resize" -> qMultimodalResize,
    "q_multimodal_frames" -> qMultimodalFrames,
    "q_multimodal_segments" -> qMultimodalSegments,
    "q_multimodal_bmp" -> qMultimodalBmp,
    "q_multimodal_bmp_resize" -> qMultimodalBmpResize,
    "q_multimodal_png" -> qMultimodalPng,
    "q_multimodal_gif" -> qMultimodalGif,
    "q_multimodal_jpeg" -> qMultimodalJpeg,
    "q_multimodal_wav" -> qMultimodalWav,
    "q_multimodal_video" -> qMultimodalVideo,
    "q_multimodal_avi" -> qMultimodalAvi,
    "q_text_tokens" -> qTextTokens,
    "q_text_embed" -> qTextEmbed,
    "q_sample_mix" -> qSampleMix,
    "q_pii_redact" -> qPiiRedact,
    "q_url_canonical" -> qUrlCanonical,
    "q_sim_join" -> qSimJoin,
    "q_sim_join_jw" -> qSimJoinJw,
    "q_corpus_stats" -> qCorpusStats,
    "q_decontaminate" -> qDecontaminate,
    "kg_triples" -> kgTriples,
    "kg_eval_prf" -> kgEvalPrf,
    "kg_eval_aggregate" -> kgEvalAggregate,
    "kg_entity_table" -> kgEntityTable,
    "kg_last_entity_of_type" -> kgLastEntityOfType,
    "kg_entity_props" -> kgEntityProps,
    "kg_node_props" -> kgNodeProps,
    "kg_context_summary" -> kgContextSummary,
    "kg_validate" -> kgValidate,
    "kg_retry_feedback" -> kgRetryFeedback,
    "kg_warc_ingest" -> kgWarcIngest,
    "kg_windowed_counts" -> kgWindowedCounts,
    "kg_stream_parity" -> kgStreamParity,
    "kg_stream_parity_nodes" -> kgStreamParityNodes,
    "kg_docred_denorm" -> kgDocredDenorm,
    "kg_docred_cross_sentence" -> kgDocredCrossSentence,
    "docred_real_denorm" -> docredRealDenorm,
    "docred_real_cross_sentence" -> docredRealCrossSentence,
    "kg_links" -> kgLinks,
    "kg_nodes_edges" -> kgNodesEdges,
    "kg_jsonld_docs" -> kgJsonldDocs,
    "kg_degrees" -> kgDegrees,
    "kg_components" -> kgComponents,
    "kg_two_hop" -> kgTwoHop,
    "kg_pagerank" -> kgPagerank,
    "kg_triangles" -> kgTriangles,
    "kg_bgp" -> kgBgp,
    "webnlg_triples" -> webnlgTriples,
    "webnlg_eval" -> webnlgEval)
}
