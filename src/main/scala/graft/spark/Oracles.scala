package graft.spark

/** DuckDB twins of [[Queries]] — ANSI-ish SQL the driver executes in
  * DuckDB over the same parquet tables (bare names = testdata tables;
  * the interleaved corpus is read with read_parquet from the fixed
  * path [[InterleavedTable.VerifyPath]], the very file the Spark
  * queries produce/consume).
  *
  * Cross-engine exactness contract (see Queries): md5-only hashing,
  * integer cents/permille/milliunit arithmetic (DuckDB SUM→HUGEINT is
  * CAST back to BIGINT), identical deterministic ORDER BY. `round()`
  * is HALF-AWAY-FROM-ZERO in both engines; `/` on integers is double
  * division in both, so `CAST(floor(a*k/b) AS BIGINT)` is bit-identical.
  */
object Oracles {

  /** Regex literals shared verbatim with the Spark side. */
  private object TextPatterns {
    val Bpeish: String = graft.functions.TextFunctions.BpeishPattern
  }

  private val IV =
    s"read_parquet('${InterleavedTable.VerifyPath}/*.parquet')"

  /** The staged by-construction GOLDEN extraction output (what the
    * extractor MUST produce, derived from the corpus construction rules
    * — never from the extractor). Reading it as the oracle side makes
    * the extraction queries hash-exact instead of rows-only. */
  private val GOLD =
    s"read_parquet('${InterleavedTable.GoldenPath}/*.parquet')"

  /** Exploded interleaved spans with position (aligned UNNEST). */
  private val ivExploded =
    s"""(SELECT doc_id, CAST(unnest(range(len(spans))) AS INTEGER) AS pos,
       | unnest(spans, recursive := true) FROM $IV)""".stripMargin

  /** documents ∪ mutated near-duplicate copies — must mirror
    * Queries.docsPlus exactly. */
  private val docsPlus =
    """docs_plus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
      | FROM documents)""".stripMargin

  /** 3-gram md5 shingles over docs_plus, as hex (TextFunctions.shingles
    * keys the same digests as binary(16): a bijection). */
  private val sh3 =
    """sh3 AS (
      | SELECT doc_id, unnest(list_transform(
      |   range(0, greatest(len(string_split(text,' ')) - 2, 0)),
      |   i -> md5(array_to_string(string_split(text,' ')[i+1:i+3], ' ')))) AS sh
      | FROM docs_plus)""".stripMargin

  /** MinHash select list (8 hashes over `sh`) — twin of MinHashSigs. */
  private val minhashMins: String =
    (0 until 8).map(k => s"min(md5('$k:' || sh)) AS mh$k").mkString(", ")

  /** Banded signatures (4 bands × 2 rows) over a `sigs` CTE. */
  private val bandedUnion: String =
    (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS sig FROM sigs")
      .mkString("\n UNION ALL ")

  /** One BSP min-label propagation round over an `edges(src,dst)` CTE
    * (twin of Dedup.components' loop body). */
  private def bspRound(prev: String, out: String): String =
    s"""$out AS (SELECT id, min(component) AS component FROM (
       | SELECT id, component FROM $prev
       | UNION ALL
       | SELECT e.dst AS id, p.component FROM edges e JOIN $prev p ON p.id = e.src
       |) GROUP BY id)""".stripMargin

  /** One large-star + small-star round over an edge CTE `$prev(a,b)` →
    * `es$i(a,b)` (twin of Dedup.componentsStar's loop body). Every
    * stage is MATERIALIZED: DuckDB inlines plain CTEs, and a star
    * round references its input ~16× — the same geometric blowup the
    * Spark side truncates with its per-round localCheckpoint. */
  private def starRound(i: Int, prev: String): String =
    s"""sym${i}l AS MATERIALIZED (SELECT a AS u, b AS v FROM $prev UNION ALL SELECT b, a FROM $prev),
       |min${i}l AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM sym${i}l GROUP BY u),
       |el$i AS MATERIALIZED (SELECT DISTINCT m.m AS a, s.v AS b
       |  FROM sym${i}l s JOIN min${i}l m USING (u) WHERE s.v > s.u AND m.m <> s.v),
       |sym${i}s AS MATERIALIZED (SELECT a AS u, b AS v FROM el$i UNION ALL SELECT b, a FROM el$i),
       |min${i}s AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM sym${i}s GROUP BY u),
       |es$i AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |  SELECT m.m AS a, s.v AS b FROM sym${i}s s JOIN min${i}s m USING (u) WHERE s.v < s.u
       |  UNION ALL SELECT m AS a, u AS b FROM min${i}s) WHERE a <> b)""".stripMargin

  /** Quality-bucket CTE chain over `src(doc_id, text)` → `$name(doc_id,
    * text, quality)` (twin of TextFunctions.qualityBucket). */
  private def qualityCte(src: String, name: String): String =
    s"""${name}_t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM $src),
       |${name}_m AS (SELECT doc_id, text,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
       | FROM ${name}_t),
       |$name AS (SELECT doc_id, text,
       |  CAST((CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END)
       |     + (CASE WHEN floor(n_distinct * 1000 / n_tokens) >= 400 THEN 1 ELSE 0 END)
       |     + (CASE WHEN floor(n_stop * 1000 / n_tokens) BETWEEN 10 AND 600 THEN 1 ELSE 0 END)
       |    AS INTEGER) AS quality FROM ${name}_m)""".stripMargin

  /** 32-bit integer from 8 md5 nibbles of `expr`, starting at nibble
    * `off+1` — the ONE cross-engine hash convention (DuckDB has no
    * conv(); Spark uses conv(substr(md5,..),16,10)). Shared by the
    * simhash twins and the CDC boundary hash so the arithmetic cannot
    * drift between copies. */
  private def md5Fold32(expr: String, off: Int = 0): String =
    (0 until 8).map { i =>
      val shift = math.pow(16, 7 - i).toLong
      s"(strpos('0123456789abcdef', substr(md5($expr),${off + i + 1},1))-1)*${shift}::BIGINT"
    }.mkString("\n  + ")

  /** 32-bit simhash per doc of table `src` (twin of simhash32). */
  private def simhashCte(src: String) = {
    val nibbles = md5Fold32("t")
    s"""tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM $src),
       |tv AS (SELECT doc_id,
       |  $nibbles AS v FROM tok),
       |bits AS (SELECT doc_id, b, sum(((v >> b) % 2)*2 - 1) AS votes
       |  FROM tv, range(32) r(b) GROUP BY 1, 2),
       |shx AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
       |  FROM bits GROUP BY 1)""".stripMargin
  }

  /** 64-bit simhash per doc as two 32-bit halves (twin of
    * TextFunctions.simhash64Halves: lo = md5 nibbles 1-8, hi = 9-16). */
  private def simhash64Cte(src: String) = {
    def half(off: Int) = md5Fold32("t", off)
    s"""tok64 AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM $src),
       |tv64 AS (SELECT doc_id,
       |  ${half(0)} AS vlo,
       |  ${half(8)} AS vhi FROM tok64),
       |bits64 AS (SELECT doc_id, b,
       |  sum((((CASE WHEN b < 32 THEN vlo ELSE vhi END) >> (b % 32)) % 2)*2 - 1) AS votes
       |  FROM tv64, range(64) r(b) GROUP BY 1, 2),
       |shx64 AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN votes > 0 AND b < 32 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo,
       |  CAST(sum(CASE WHEN votes > 0 AND b >= 32 THEN (CAST(1 AS BIGINT) << (b-32)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits64 GROUP BY 1)""".stripMargin
  }

  /** Milliunit-quantized embeddings with sign-LSH bucket (twin of
    * VectorFunctions.quantize/signBucket). */
  private val qEmb =
    """qemb AS (
      | SELECT vec_id,
      |  (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
      |  +CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
      |  +CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
      |  +CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      | FROM embeddings)""".stripMargin

  private def dot(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2])) AS BIGINT)"

  /** Shared CTE chain of the IVF-PQ replay (Similarity.ivfPqTopK),
    * ending at `scored(query_id, item_id, adot)` — the ADC scores of
    * every probed item per query. `trainCtes` (optional, ",<ctes>")
    * splices codebook-training CTEs after the seeds; `encCb` names
    * the codebook table the encoder + LUT read (the seed `cbn`, or a
    * Lloyd-trained table from `trainCtes`). Used by sim_topk_pq,
    * sim_topk_pq_rerank and sim_topk_pq_kmeans. */
  private def pqCtes(trainCtes: String, encCb: String) =
    s"""$qEmb,
       |qn AS (SELECT vec_id, qv,
       |  CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS vn FROM qemb),
       |cent AS (SELECT vec_id AS cid, qv AS cv, vn AS cn FROM qn WHERE vec_id < 8),
       |assign AS (SELECT vec_id, qv, cid,
       |  row_number() OVER (PARTITION BY vec_id
       |    ORDER BY vn - 2*${dot("qv", "cv")} + cn, cid) AS crk
       | FROM qn, cent),
       |lists AS (SELECT vec_id AS item_id, qv, cid FROM assign WHERE crk = 1),
       |probes AS (SELECT vec_id AS query_id, qv AS q_qv, cid FROM assign
       | WHERE vec_id < 8 AND crk <= 2),
       |cb AS (SELECT CAST(vec_id AS INTEGER) AS code, CAST(m AS INTEGER) AS sub,
       |  list_slice(qv, m*16+1, m*16+16) AS scv
       | FROM qn, range(4) r(m) WHERE vec_id < 16),
       |cbn AS (SELECT code, sub, scv,
       |  CAST(list_sum(list_transform(scv, x -> x*x)) AS BIGINT) AS scn FROM cb),
       |isub AS (SELECT item_id, cid, CAST(m AS INTEGER) AS sub,
       |  list_slice(qv, m*16+1, m*16+16) AS sv,
       |  CAST(list_sum(list_transform(list_slice(qv, m*16+1, m*16+16),
       |    x -> x*x)) AS BIGINT) AS svn
       | FROM lists, range(4) r(m))$trainCtes,
       |enc AS (SELECT item_id, cid, sub, code FROM (
       | SELECT i.item_id, i.cid, i.sub, c.code,
       |  row_number() OVER (PARTITION BY i.item_id, i.sub
       |   ORDER BY i.svn - 2*${dot("i.sv", "c.scv")} + c.scn, c.code) AS rk
       | FROM isub i JOIN $encCb c USING (sub)) WHERE rk = 1),
       |lut AS (SELECT q.vec_id AS query_id, c.sub, c.code,
       |  ${dot("list_slice(q.qv, c.sub*16+1, c.sub*16+16)", "c.scv")} AS pdot
       | FROM qn q, $encCb c WHERE q.vec_id < 8),
       |scored AS (SELECT p.query_id, e.item_id,
       |  CAST(sum(l.pdot) AS BIGINT) AS adot
       | FROM enc e JOIN probes p USING (cid)
       | JOIN lut l ON l.query_id = p.query_id AND l.sub = e.sub AND l.code = e.code
       | WHERE p.query_id <> e.item_id
       | GROUP BY 1, 2)""".stripMargin

  private lazy val pqScoredCtes = pqCtes("", "cbn")

  /** Per-subspace Lloyd training replay (Similarity.ivfPqTopKKmeans,
    * 2 iterations): assign every item subvector to its nearest
    * codeword (ties to the smaller code), recompute codewords as the
    * element-wise floored mean, twice; AS MATERIALIZED so each round
    * computes once. */
  private lazy val pqKmeansScoredCtes = {
    def assignCte(name: String, cbn: String) =
      s"""$name AS MATERIALIZED (SELECT sub, code, sv FROM (
         | SELECT i.sub, c.code, i.sv,
         |  row_number() OVER (PARTITION BY i.item_id, i.sub
         |   ORDER BY i.svn - 2*${dot("i.sv", "c.scv")} + c.scn, c.code) AS rk
         | FROM isub i JOIN $cbn c USING (sub)) WHERE rk = 1)""".stripMargin
    def cbCte(asg: String, out: String) =
      s"""${out}e AS (SELECT sub, code,
         |  CAST(unnest(range(len(sv))) AS INTEGER) AS d, unnest(sv) AS x FROM $asg),
         |$out AS (SELECT sub, code, list(m ORDER BY d) AS scv FROM
         | (SELECT sub, code, d, CAST(floor(sum(x)/count(*)) AS BIGINT) AS m
         |  FROM ${out}e GROUP BY 1, 2, 3) GROUP BY sub, code),
         |${out}n AS (SELECT sub, code, scv,
         |  CAST(list_sum(list_transform(scv, x -> x*x)) AS BIGINT) AS scn
         | FROM $out)""".stripMargin
    pqCtes(s""",
       |${assignCte("pa0", "cbn")},
       |${cbCte("pa0", "kb1")},
       |${assignCte("pa1", "kb1n")},
       |${cbCte("pa1", "kb2")}""".stripMargin, "kb2n")
  }

  val sql: Map[String, String] = Map(
    // ---- reference-pipeline relational ops over the interleaved corpus
    "pdfz_explode" ->
      s"""SELECT doc_id, pos, kind, media_ref,
         | CAST(length(text) AS INTEGER) AS text_len, md5(text) AS text_md5
         |FROM $ivExploded ORDER BY doc_id, pos""".stripMargin,

    "pdfz_page_window" ->
      s"""WITH ex AS (SELECT doc_id, CAST(len(spans) AS INTEGER) AS total,
         | CAST(unnest(range(len(spans))) AS INTEGER) AS pos,
         | unnest(spans, recursive := true) FROM $IV),
         |pages AS (
         | SELECT doc_id, pos + 1 AS page_num, kind, text,
         |  CASE WHEN 2 = 0 OR 2 > total THEN total ELSE 2 END AS page_limit
         | FROM ex WHERE pos + 1 >= 2),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY page_num) AS rk
         | FROM pages)
         |SELECT doc_id, CAST(page_num AS INTEGER) AS page_num, kind, md5(text) AS text_md5
         |FROM ranked WHERE rk <= page_limit ORDER BY doc_id, page_num""".stripMargin,

    "pdfz_reassemble" ->
      s"""SELECT doc_id, string_agg(substr(md5(text), 1, 8), ' ' ORDER BY pos) AS assembled
         |FROM $ivExploded GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pdfz_resume_antijoin" ->
      s"""SELECT CAST(strpos('0123456789abcdef', substr(md5(doc_id),1,1)) - 1 AS INTEGER) AS bucket,
         | count(*) AS pending_docs, CAST(sum(len(spans)) AS BIGINT) AS pending_spans
         |FROM $IV
         |WHERE strpos('0123456789abcdef', substr(md5(doc_id),1,1)) - 1 NOT IN (0,1,2,3,4,5)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "pdfz_progress" ->
      s"""WITH per AS (
         | SELECT CAST(strpos('0123456789abcdef', substr(md5(doc_id),1,1)) - 1 AS INTEGER) AS bucket,
         |  count(*) AS doc_count, CAST(sum(len(spans)) AS BIGINT) AS span_count
         | FROM $IV GROUP BY 1)
         |SELECT bucket, doc_count, span_count,
         | CAST(floor(doc_count * 100 / (sum(doc_count) OVER ())) AS BIGINT) AS pct_of_corpus
         |FROM per ORDER BY bucket""".stripMargin,

    "pdfz_dispatch" ->
      """SELECT doc_id,
        | lower(CASE WHEN doc_id % 3 = 0 THEN 'Tesseract'
        |            WHEN doc_id % 3 = 1 THEN 'OLLAMA' ELSE 'gpt' END) AS engine_norm,
        | CAST(lower(CASE WHEN doc_id % 3 = 0 THEN 'Tesseract'
        |            WHEN doc_id % 3 = 1 THEN 'OLLAMA' ELSE 'gpt' END)
        |      IN ('tesseract','ollama') AS INTEGER) AS supported,
        | CASE WHEN contains(source, ':') THEN source ELSE source || ':latest' END AS model_tag
        |FROM documents ORDER BY doc_id""".stripMargin,

    // image-doc membership and dimensions are BY CONSTRUCTION (fixture
    // style 1 embeds 8x8 JPEG-DCT + 4x4 Flate-gray + 2x2 raw-gray +
    // 2x3 Flate-wrapped-PNG on page 1; the Flate rotate90 quirk keeps
    // the square 4x4 and turns the 2x3 container into 3x2; the decoded
    // JPEG keeps its 8x8 — all four materialize as PNG like the
    // reference's img.save)
    "pdfz_images" ->
      """SELECT printf('doc%08d', i) AS doc_id,
        | printf('doc%08d_1_%d.png', i, j) AS media_ref,
        | 'png' AS format,
        | CAST(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 3 END AS INTEGER) AS width,
        | CAST(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 ELSE 2 END AS INTEGER) AS height
        |FROM range(400) t(i), range(4) u(j)
        |WHERE i % 10 BETWEEN 4 AND 8 AND i % 4 = 1
        |ORDER BY doc_id, media_ref""".stripMargin,

    // boilerplate pin: the classifier's rules are deterministic, so
    // the expected pieces of the templated HTML are closed-form — the
    // link-dense div (density 4/7 > 0.5) and nav/head/script content
    // MUST be absent, &amp; decoded, pieces at exact positions
    "html_boilerplate" ->
      """WITH d AS (SELECT i AS id FROM range(40) t(i)),
        |p AS (
        | SELECT id, 0 AS pos, 'text' AS kind,
        |  'Doc ' || CAST(id AS VARCHAR) || ' & title' AS content FROM d
        | UNION ALL SELECT id, 1, 'text',
        |  'alpha' || CAST(id AS VARCHAR) || ' beta' FROM d
        | UNION ALL SELECT id, 2, 'media',
        |  'img' || CAST(id AS VARCHAR) || '.png' FROM d
        | UNION ALL SELECT id, 3, 'text',
        |  'gamma ' || CAST(id % 7 AS VARCHAR) FROM d)
        |SELECT id, CAST(pos AS INTEGER) AS pos, kind, content FROM p
        |ORDER BY id, pos""".stripMargin,

    "html_links" ->
      // the full anchor edge set closed-form: nav/footer anchors
      // boilerplate-flagged, &amp; decoded, the unquoted href kept,
      // the empty-href anchor and the script-string decoy absent
      """WITH d AS (SELECT i AS id FROM range(40) t(i)),
        |p AS (
        | SELECT id, 0 AS ord, '/nav' || CAST(id AS VARCHAR) AS href,
        |  'home ' || CAST(id AS VARCHAR) AS anchor, 1 AS boiler FROM d
        | UNION ALL SELECT id, 1, 'https://ex.org/d' || CAST(id AS VARCHAR),
        |  'doc & more', 0 FROM d
        | UNION ALL SELECT id, 2, '/a' || CAST(id AS VARCHAR), 'l one', 0 FROM d
        | UNION ALL SELECT id, 3, '/b' || CAST(id AS VARCHAR), 'l2', 0 FROM d
        | UNION ALL SELECT id, 4, '/legal', 'terms', 1 FROM d)
        |SELECT id, CAST(ord AS INTEGER) AS ord, href, anchor,
        | CAST(boiler AS INTEGER) AS boiler
        |FROM p ORDER BY id, ord""".stripMargin,

    // CCITT G4 pin: dims + black-pixel count of the deterministic fax
    // pattern, recomputed analytically (max extent 12x8 cross-joined,
    // filtered per image — range() takes no lateral column refs)
    "pdfz_images_fax" ->
      """WITH imgs AS (SELECT i AS id, CAST(8 + i % 5 AS INTEGER) AS w,
        |  CAST(6 + i % 3 AS INTEGER) AS h FROM range(20) t(i)),
        |px AS (SELECT id,
        |  CAST(sum(CASE WHEN (xs.x + 2*ys.y + id) % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS black
        | FROM imgs, range(12) xs(x), range(8) ys(y)
        | WHERE xs.x < w AND ys.y < h GROUP BY id)
        |SELECT imgs.id, printf('fax%04d_1_0.png', imgs.id) AS media_ref,
        | w AS width, h AS height, px.black AS black_px
        |FROM imgs JOIN px USING (id) ORDER BY imgs.id""".stripMargin,

    "pdfz_images_jbig2" ->
      """WITH imgs AS (SELECT i AS id, CAST(10 + i % 6 AS INTEGER) AS w,
        |  CAST(7 + i % 4 AS INTEGER) AS h FROM range(20) t(i)),
        |px AS (SELECT id,
        |  CAST(sum(CASE WHEN (2*xs.x + ys.y + id) % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS black
        | FROM imgs, range(16) xs(x), range(11) ys(y)
        | WHERE xs.x < w AND ys.y < h GROUP BY id)
        |SELECT imgs.id, printf('jb%04d_1_0.png', imgs.id) AS media_ref,
        | w AS width, h AS height, px.black AS black_px
        |FROM imgs JOIN px USING (id) ORDER BY imgs.id""".stripMargin,

    "pdfz_images_jbig2_text" ->
      // symbol-dict + text-region path: glyph g=(i%3) is (3+g)x(2+g),
      // black iff (x+y+g+id)%2=0, placed non-overlapping — the page
      // black count is the sum of instance glyph counts
      """WITH imgs AS (SELECT i AS id, CAST(8 + i % 3 AS INTEGER) AS n FROM range(12) t(i)),
        |px AS (SELECT id,
        |  CAST(sum(CASE WHEN xs.x < 3 + (inst.i % 3) AND ys.y < 2 + (inst.i % 3)
        |    AND (xs.x + ys.y + (inst.i % 3) + id) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS black
        | FROM imgs, range(10) inst(i), range(5) xs(x), range(4) ys(y)
        | WHERE inst.i < n GROUP BY id)
        |SELECT imgs.id, printf('tx%04d_1_0.png', imgs.id) AS media_ref,
        | CAST(32 AS INTEGER) AS width, CAST(18 AS INTEGER) AS height, px.black AS black_px
        |FROM imgs JOIN px USING (id) ORDER BY imgs.id""".stripMargin,

    "pdfz_images_jbig2_huff" ->
      // Huffman coding of the same glyph pattern (standard B.1-B.5 +
      // custom FS/DS/DT tables + runcode symbol IDs): identical page
      // bits, so identical analytic black counts; only media_ref's
      // prefix differs
      """WITH imgs AS (SELECT i AS id, CAST(8 + i % 3 AS INTEGER) AS n FROM range(12) t(i)),
        |px AS (SELECT id,
        |  CAST(sum(CASE WHEN xs.x < 3 + (inst.i % 3) AND ys.y < 2 + (inst.i % 3)
        |    AND (xs.x + ys.y + (inst.i % 3) + id) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS black
        | FROM imgs, range(10) inst(i), range(5) xs(x), range(4) ys(y)
        | WHERE inst.i < n GROUP BY id)
        |SELECT imgs.id, printf('hx%04d_1_0.png', imgs.id) AS media_ref,
        | CAST(32 AS INTEGER) AS width, CAST(18 AS INTEGER) AS height, px.black AS black_px
        |FROM imgs JOIN px USING (id) ORDER BY imgs.id""".stripMargin,

    "pdfz_encrypted" ->
      // expected page texts are closed-form; the md5s match only if
      // the RC4/AES decryption recovered them byte-exactly
      """SELECT i AS id,
        | CASE WHEN i = 12 THEN 'rc4_pw' WHEN i = 13 THEN 'aes_pw'
        |      WHEN i = 14 THEN 'aes256_pw' WHEN i = 15 THEN 'owner_pw'
        |      WHEN i % 3 = 0 THEN 'rc4' WHEN i % 3 = 1 THEN 'aes'
        |      ELSE 'aes256' END AS mode,
        | CAST(p AS INTEGER) AS page,
        | md5(CASE WHEN p = 1 THEN 'page alpha ' || CAST(i AS VARCHAR)
        |      ELSE 'page beta ' || CAST(i*i AS VARCHAR) END) AS text_md5
        |FROM range(16) t(i), (VALUES (1), (2)) pg(p)
        |ORDER BY id, page""".stripMargin,

    "pdfz_encodings" ->
      // expected decodes are the published Annex-D constants; the
      // U+FFFD entries witness the visible-degradation contract for
      // encoding-undefined codes (standard 0xFF, macroman 0xF0)
      """SELECT i AS id,
        | CASE i % 4 WHEN 0 THEN 'standard' WHEN 1 THEN 'macroman'
        |            WHEN 2 THEN 'winansi' ELSE 'ucs2' END AS mode,
        | md5(CASE i % 4 WHEN 0 THEN 'std ’“”–†•ßæ�'
        |      WHEN 1 THEN 'mac Äé•–“”ßæ�'
        |      WHEN 2 THEN 'win Šé‘’–ßæ • -'
        |      ELSE 'ucs2 日本語' END || ' #' || CAST(i AS VARCHAR)) AS text_md5,
        | CAST(CASE WHEN i % 4 >= 2 THEN 0 ELSE 1 END AS BIGINT) AS unmapped
        |FROM range(24) t(i)
        |ORDER BY id""".stripMargin,

    "pdfz_form_text" ->
      // closed-form expected text for the three form topologies; the
      // parity column re-derives the page-stream-only decode
      """SELECT i AS id,
        | CASE i % 3 WHEN 0 THEN 'plain' WHEN 1 THEN 'nested' ELSE 'cyclic' END AS mode,
        | md5('body text ' || CAST(i AS VARCHAR) || chr(10)
        |   || 'stamp ' || CAST(i * 7 AS VARCHAR)
        |   || CASE i % 3 WHEN 1 THEN chr(10) || 'inner ' || CAST(i + 100 AS VARCHAR)
        |      ELSE '' END) AS form_text_md5,
        | md5('body text ' || CAST(i AS VARCHAR)) AS parity_text_md5
        |FROM range(12) t(i)
        |ORDER BY id""".stripMargin,

    "pdfz_metadata" ->
      // expected strings closed-form via chr() codepoints: chr(233)=é
      // through the UTF-16BE/BOM branch, chr(8364)=€ = PDFDocEncoding
      // 0o240 (Annex D.3) — a wrong table byte flips the compare;
      // /Keywords absent on odd ids must surface as NULL
      """SELECT i AS id,
        | 'Title' || chr(233) || ' doc ' || CAST(i AS VARCHAR) AS title,
        | 'J' || chr(8364) || 'Smith ' || CAST(i AS VARCHAR) AS author,
        | 'subject ' || CAST(i * 3 AS VARCHAR) AS subject,
        | CASE WHEN i % 2 = 0 THEN 'k' || CAST(i AS VARCHAR) || ' corpus'
        |      ELSE NULL END AS keywords,
        | 'graft ' || CAST(i % 5 AS VARCHAR) AS producer,
        | 'D:2026081' || CAST(i % 10 AS VARCHAR) || '120000Z' AS creation_date
        |FROM range(16) t(i) ORDER BY id""".stripMargin,

    "pdfz_links" ->
      // the full (doc, page, rect, uri) edge set closed-form; rects
      // min/max-normalized (the k=1 fixture rect is corner-reversed),
      // decoy /Text and /GoTo annotations contribute nothing
      """WITH p0 AS (
        | SELECT i AS id, 0 AS page,
        |  CAST(10 + 5 * k AS BIGINT) AS x0, CAST(20 AS BIGINT) AS y0,
        |  CAST(110 + 5 * k AS BIGINT) AS x1, CAST(40 AS BIGINT) AS y1,
        |  'https://ex.org/d' || CAST(i AS VARCHAR) || '/l' || CAST(k AS VARCHAR) AS uri
        | FROM range(16) t(i), range(2) s(k) WHERE k < i % 3),
        |p1 AS (
        | SELECT i AS id, 1 AS page, CAST(30 AS BIGINT) AS x0,
        |  CAST(40 AS BIGINT) AS y0, CAST(200 AS BIGINT) AS x1,
        |  CAST(60 AS BIGINT) AS y1,
        |  'https://ex.org/d' || CAST(i AS VARCHAR) || '/p1' AS uri
        | FROM range(16) t(i))
        |SELECT * FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
        |ORDER BY id, page, uri""".stripMargin,

    "pdfz_outline" ->
      // the pre-order (ord, level, title, page) set closed-form:
      // section ord = own index + children of earlier sections; both
      // title branches (chr(233)=é through UTF-16BE/BOM, escaped
      // literal parens), the named-destination appendix pinned to -1
      """WITH secs AS (
        | SELECT i AS id, s, (i + s) % 3 AS nc
        | FROM range(18) t(i), range(4) r(s) WHERE s < 2 + i % 3),
        |soff AS (
        | SELECT id, s, nc, s + COALESCE(SUM(nc) OVER (PARTITION BY id ORDER BY s
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ord0
        | FROM secs),
        |sec_rows AS (
        | SELECT id, ord0 AS ord, 0 AS lvl,
        |  CASE WHEN s % 2 = 0
        |   THEN 'S' || chr(233) || 'ance ' || CAST(id AS VARCHAR) || '.' || CAST(s AS VARCHAR)
        |   ELSE 'Sec (' || CAST(id AS VARCHAR) || '.' || CAST(s AS VARCHAR) || ')'
        |  END AS title,
        |  s % 3 AS page
        | FROM soff),
        |child_rows AS (
        | SELECT id, ord0 + 1 + k AS ord, 1 AS lvl,
        |  'Item ' || CAST(id AS VARCHAR) || '.' || CAST(s AS VARCHAR)
        |   || '.' || CAST(k AS VARCHAR) AS title,
        |  (s + k + 1) % 3 AS page
        | FROM soff, range(2) r(k) WHERE k < nc),
        |appx AS (
        | SELECT id, (2 + id % 3) + SUM(nc) AS ord, 0 AS lvl,
        |  'Appendix ' || CAST(id AS VARCHAR) AS title, -1 AS page
        | FROM secs GROUP BY id)
        |SELECT id, CAST(ord AS INTEGER) AS ord, CAST(lvl AS INTEGER) AS lvl,
        | title, CAST(page AS INTEGER) AS page
        |FROM (SELECT * FROM sec_rows UNION ALL SELECT * FROM child_rows
        |      UNION ALL SELECT * FROM appx)
        |ORDER BY id, ord""".stripMargin,

    "pdfz_pagelabels" -> {
      // closed-form label replay: subtractive roman for n <= 39,
      // Table-159 letters (repeated past z), prefix + decimal, and
      // the style-less prefix-only range
      def romanSql(n: String) =
        s"repeat('x', ($n)//10) || CASE WHEN ($n)%10 = 9 THEN 'ix' " +
          s"WHEN ($n)%10 = 4 THEN 'iv' " +
          s"ELSE repeat('v', CASE WHEN ($n)%10 >= 5 THEN 1 ELSE 0 END) " +
          s"|| repeat('i', (($n)%10) % 5) END"
      def lettersSql(n: String) =
        s"repeat(chr(97 + CAST((($n)-1)%26 AS INTEGER)), " +
          s"CAST((($n)-1)//26 + 1 AS INTEGER))"
      s"""WITH pg AS (SELECT i AS id, p FROM range(16) t(i), range(6) r(p))
         |SELECT id, CAST(p AS INTEGER) AS page,
         | CASE
         |  WHEN p < 2 AND id % 2 = 0 THEN ${romanSql("1 + id%3 + p")}
         |  WHEN p < 2 THEN upper(${romanSql("1 + id%3 + p")})
         |  WHEN p < 4 THEN 'A' || chr(233) || '-' || CAST(5 + id%5 + p - 2 AS VARCHAR)
         |  WHEN id % 2 = 0 THEN ${lettersSql("25 + id + p - 4")}
         |  ELSE 'x-'
         | END AS label
         |FROM pg ORDER BY id, page""".stripMargin
    },

    "pdfz_formfields" ->
      // terminal-field rows closed form: qualified kid names, /FT
      // inheritance ('Tx' on the kid row comes from the parent),
      // chr(233)=é through both string spellings, name-object values
      // as '/On1', the value-less field as NULL
      """WITH ids AS (SELECT i AS id, 1 + i % 3 AS ntop, i % 2 AS haskid
        | FROM range(16) t(i)),
        |r0 AS (SELECT id, 0 AS ord,
        |  CASE WHEN haskid = 1
        |   THEN 'fld' || chr(233) || CAST(id AS VARCHAR) || '_0.k0'
        |   ELSE 'fld' || chr(233) || CAST(id AS VARCHAR) || '_0' END AS name,
        |  'Tx' AS ft,
        |  CASE WHEN haskid = 1
        |   THEN 'kv' || chr(233) || CAST(id AS VARCHAR) || '.0'
        |   ELSE 'v' || CAST(id AS VARCHAR) || '.0' END AS val
        | FROM ids),
        |r1 AS (SELECT id, 1 AS ord,
        |  'fld' || CAST(id AS VARCHAR) || '_1' AS name,
        |  'Btn' AS ft, '/On1' AS val FROM ids WHERE ntop >= 2),
        |r2 AS (SELECT id, 2 AS ord,
        |  'fld' || chr(233) || CAST(id AS VARCHAR) || '_2' AS name,
        |  'Tx' AS ft, CAST(NULL AS VARCHAR) AS val FROM ids WHERE ntop >= 3)
        |SELECT id, CAST(ord AS INTEGER) AS ord, name, ft, val
        |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
        |      UNION ALL SELECT * FROM r2)
        |ORDER BY id, ord""".stripMargin,

    "pdfz_point_lookup" ->
      s"""SELECT doc_id, CAST(len(spans) AS INTEGER) AS n_spans,
         | md5(array_to_string(list_transform(spans, x -> x.text), '|')) AS content_md5
         |FROM $IV WHERE doc_id = 'doc00000123'""".stripMargin,

    // ---- analytic layer
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount*1000) AS BIGINT))) AS BIGINT) AS rev_micros,
        | count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey,
        | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount*1000) AS BIGINT))) AS BIGINT) AS rev_micros,
        | count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY rev_micros DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (1000 - CAST(round(l_discount*1000) AS BIGINT))) AS BIGINT) AS rev_micros,
        | count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, price_cents, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT o_custkey, o_orderkey,
        |       CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        |       row_number() OVER (PARTITION BY o_custkey
        |         ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q_events_hourly" ->
      """SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour, event_type,
        | count(*) AS n,
        | CAST(SUM(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS value_permille
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // watermark replay: arrival = event time + deterministic 0-2h
    // jitter (out-of-order log); a row whose ts is older than
    // (running max ts of prior arrivals - 1h) is late-dropped
    "q_events_hourly_late" ->
      """WITH ev AS (SELECT event_id, ts, event_type, value, epoch_ms(ts) AS tms,
        |  epoch_ms(ts) + (event_id*2654435761) % 7200000 AS arr FROM events),
        |h AS (SELECT *, max(tms) OVER (ORDER BY arr, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 3600000 AS hor FROM ev)
        |SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour, event_type, count(*) AS n,
        | CAST(SUM(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS value_permille
        |FROM h WHERE hor IS NULL OR tms >= hor
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_sessions" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS tms, event_id FROM events),
        |flags AS (SELECT user_id,
        |  CASE WHEN lag(tms) OVER w IS NULL OR tms - lag(tms) OVER w > 1800000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id))
        |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS sessions, count(*) AS events
        |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin,

    // gaps-and-islands twin of session_window: break at gap >= 30min
    // (strict-< merge: Spark's session windows are end-exclusive),
    // session end = last event + gap
    "q_events_session_windows" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS tms, event_id FROM events),
        |f AS (SELECT user_id, tms, event_id,
        |  CASE WHEN lag(tms) OVER w IS NULL OR tms - lag(tms) OVER w >= 1800000
        |       THEN 1 ELSE 0 END AS brk
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        |g AS (SELECT user_id, tms, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY tms, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
        |SELECT user_id, CAST(min(tms) AS BIGINT) AS session_start_ms,
        | CAST(max(tms) + 1800000 AS BIGINT) AS session_end_ms,
        | count(*) AS events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        | count(*) AS n,
        | CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_median" ->
      """WITH p AS (SELECT o_orderpriority, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS price_cents FROM orders),
        |rk AS (SELECT o_orderpriority, price_cents,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY price_cents, o_orderkey) AS rk,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n
        | FROM p)
        |SELECT o_orderpriority, price_cents AS median_cents, CAST(n AS BIGINT) AS n
        |FROM rk WHERE rk = (n + 1) // 2 ORDER BY o_orderpriority""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        | count(*) AS n,
        | CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        | CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        | CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        | CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        | CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        | CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_setops" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |ORDER BY o_custkey""".stripMargin,

    "q_above_group_avg" ->
      """WITH w AS (SELECT o_orderkey, o_orderpriority,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT))
        |    OVER (PARTITION BY o_orderpriority) AS BIGINT) AS grp_total,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS grp_n
        | FROM orders)
        |SELECT o_orderkey, o_orderpriority, price_cents FROM w
        |WHERE price_cents * grp_n > grp_total ORDER BY o_orderkey""".stripMargin,

    "q_events_json" ->
      """SELECT event_type, count(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_asof" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS tms FROM events
        |  WHERE event_type = 'click'),
        |sg AS (
        |  SELECT user_id, epoch_ms(ts) AS tms, CAST(max(event_id) AS BIGINT) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.tms, s.signup_id
        |FROM clicks c ASOF LEFT JOIN sg s
        |  ON c.user_id = s.user_id AND c.tms >= s.tms
        |ORDER BY c.event_id""".stripMargin,

    // multi-payload + null-payload AS-OF witness: k_val is NULL on
    // every third signup — per-column forward fill would backfill it
    // from an older right row and diverge from native ASOF JOIN
    "q_asof_multi" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS tms FROM events
        |  WHERE event_type = 'click'),
        |sg0 AS (
        |  SELECT user_id, epoch_ms(ts) AS tms, CAST(max(event_id) AS BIGINT) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |sg AS (
        |  SELECT user_id, tms, signup_id,
        |   CASE WHEN signup_id % 3 = 0 THEN NULL ELSE signup_id % 97 END AS k_val
        |  FROM sg0)
        |SELECT c.event_id, c.user_id, c.tms, s.signup_id, s.k_val
        |FROM clicks c ASOF LEFT JOIN sg s
        |  ON c.user_id = s.user_id AND c.tms >= s.tms
        |ORDER BY c.event_id""".stripMargin,

    // ---- dedup / similarity / text analysis
    "dedup_exact" ->
      s"""WITH $docsPlus
         |SELECT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp,
         | min(doc_id) AS keep_id, count(*) AS dup_count
         |FROM docs_plus GROUP BY 1 HAVING count(*) >= 2 ORDER BY fp""".stripMargin,

    "dedup_incremental" ->
      s"""WITH $docsPlus,
         |exfp AS (
         | SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
         | FROM documents WHERE doc_id < 250),
         |inc AS (
         | SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
         | FROM docs_plus WHERE doc_id >= 250)
         |SELECT min(doc_id) AS doc_id, fp FROM inc
         |WHERE fp NOT IN (SELECT fp FROM exfp)
         |GROUP BY fp ORDER BY doc_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $docsPlus, $sh3,
         |sigs AS (SELECT doc_id, $minhashMins FROM sh3 GROUP BY doc_id),
         |banded AS ($bandedUnion)
         |SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
         |FROM banded l JOIN banded r
         | ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_minhash_star" ->
      s"""WITH $docsPlus, $sh3,
         |sigs AS (SELECT doc_id, $minhashMins FROM sh3 GROUP BY doc_id),
         |banded AS ($bandedUnion),
         |canon AS (SELECT band, sig, min(doc_id) AS canon FROM banded GROUP BY 1, 2)
         |SELECT DISTINCT c.canon AS a_id, b.doc_id AS b_id
         |FROM banded b JOIN canon c USING (band, sig)
         |WHERE b.doc_id <> c.canon
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_components" ->
      // 3 BSP min-propagation rounds over the symmetric star-pair edges
      s"""WITH $docsPlus, $sh3,
         |sigs AS (SELECT doc_id, $minhashMins FROM sh3 GROUP BY doc_id),
         |banded AS ($bandedUnion),
         |canon AS (SELECT band, sig, min(doc_id) AS canon FROM banded GROUP BY 1, 2),
         |pairs AS (SELECT DISTINCT c.canon AS a_id, b.doc_id AS b_id
         | FROM banded b JOIN canon c USING (band, sig) WHERE b.doc_id <> c.canon),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         | UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |l0 AS (SELECT DISTINCT src AS id, src AS component FROM edges),
         |${bspRound("l0", "l1")},
         |${bspRound("l1", "l2")},
         |${bspRound("l2", "l3")}
         |SELECT id AS doc_id, component FROM l3 ORDER BY doc_id""".stripMargin,

    "dedup_components_star" ->
      // 2 alternating large-star/small-star rounds over the same star-
      // pair edges (Kiveris et al. two-phase; converged here, so equal
      // to dedup_components' fixpoint)
      s"""WITH $docsPlus, $sh3,
         |sigs AS (SELECT doc_id, $minhashMins FROM sh3 GROUP BY doc_id),
         |banded AS ($bandedUnion),
         |canon AS (SELECT band, sig, min(doc_id) AS canon FROM banded GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT DISTINCT c.canon AS a, b.doc_id AS b
         | FROM banded b JOIN canon c USING (band, sig) WHERE b.doc_id <> c.canon),
         |${starRound(1, "e0")},
         |${starRound(2, "es1")}
         |SELECT doc_id, min(component) AS component FROM (
         | SELECT b AS doc_id, a AS component FROM es2
         | UNION ALL SELECT a, a FROM es2) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "dedup_decontaminate" -> {
      // 13-gram overlap vs the every-97th-doc "eval set" (distinct
      // shingles per side, like the Spark array_distinct + distinct)
      def sh13(src: String) =
        s"""SELECT doc_id, unnest(list_distinct(list_transform(
           |   range(0, greatest(len(string_split(text,' ')) - 12, 0)),
           |   i -> md5(array_to_string(string_split(text,' ')[i+1:i+13], ' '))))) AS sh
           | FROM $src""".stripMargin
      s"""WITH $docsPlus,
         |ev AS (SELECT DISTINCT sh FROM (${sh13("documents WHERE doc_id % 97 = 0")})),
         |cs AS (${sh13("docs_plus")})
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS contaminated_ngrams
         |FROM cs JOIN ev USING (sh) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "dedup_bloom_incremental" -> {
      val fpExpr =
        "md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' '))"
      val bitExpr = s"(${md5Fold32("CAST(jj AS VARCHAR) || ':' || fp")}) % 4096"
      s"""WITH fpc AS (SELECT $fpExpr AS fp FROM documents),
         |batch AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
         | UNION ALL
         | SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text,' ')+1) AS text
         | FROM documents WHERE doc_id % 11 = 0),
         |fpb AS (SELECT doc_id, $fpExpr AS fp FROM batch),
         |cbits AS (SELECT DISTINCT $bitExpr AS bit
         | FROM fpc, (VALUES (0),(1),(2)) j(jj)),
         |bbits AS (SELECT DISTINCT doc_id, $bitExpr AS bit
         | FROM fpb, (VALUES (0),(1),(2)) j(jj)),
         |bn AS (SELECT doc_id, count(*) AS n_bits FROM bbits GROUP BY doc_id),
         |bhits AS (SELECT doc_id, count(*) AS n_hits
         | FROM bbits JOIN cbits USING (bit) GROUP BY doc_id),
         |ex AS (SELECT DISTINCT fpb.doc_id
         | FROM fpb JOIN (SELECT DISTINCT fp FROM fpc) c USING (fp))
         |SELECT fpb.doc_id AS doc_id,
         | CAST(CASE WHEN COALESCE(bhits.n_hits, 0) = bn.n_bits THEN 1 ELSE 0 END AS INTEGER) AS bloom_hit,
         | CAST(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS exact_dup
         |FROM fpb
         |LEFT JOIN bhits ON bhits.doc_id = fpb.doc_id
         |JOIN bn ON bn.doc_id = fpb.doc_id
         |LEFT JOIN ex ON ex.doc_id = fpb.doc_id
         |ORDER BY fpb.doc_id""".stripMargin
    },

    "dedup_exact_substring" -> {
      // ExactSubstr: position covered iff its 15-gram recurs
      // corpus-wide (positions, not docs); aligned unnests pair
      // (pos, gram) row-wise; gaps-and-islands merges runs
      s"""WITH $docsPlus,
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs_plus),
         |g AS (SELECT doc_id,
         |  unnest(range(0, greatest(len(toks) - 14, 0))) AS pos,
         |  unnest(list_transform(range(0, greatest(len(toks) - 14, 0)),
         |    i -> md5(array_to_string(toks[i+1:i+15], ' ')))) AS gh
         | FROM t),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         |cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
         | FROM cov)
         |SELECT doc_id, CAST(min(pos) AS INTEGER) AS start_pos,
         | CAST(max(pos) + 14 AS INTEGER) AS end_pos,
         | count(*) AS n_grams,
         | CAST(max(pos) + 14 - min(pos) + 1 AS INTEGER) AS n_tokens
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, start_pos""".stripMargin
    },

    "dedup_keep_best" ->
      // star pairs + 3 BSP rounds (the dedup_components chain), then
      // keep-best per cluster: max (quality*100000 + token count),
      // ties toward min doc_id — replayed as max-score + min-id-at-max
      s"""WITH $docsPlus, $sh3,
         |sigs AS (SELECT doc_id, $minhashMins FROM sh3 GROUP BY doc_id),
         |banded AS ($bandedUnion),
         |canon AS (SELECT band, sig, min(doc_id) AS canon FROM banded GROUP BY 1, 2),
         |pairs AS (SELECT DISTINCT c.canon AS a_id, b.doc_id AS b_id
         | FROM banded b JOIN canon c USING (band, sig) WHERE b.doc_id <> c.canon),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         | UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |l0 AS (SELECT DISTINCT src AS id, src AS component FROM edges),
         |${bspRound("l0", "l1")},
         |${bspRound("l1", "l2")},
         |${bspRound("l2", "l3")},
         |${qualityCte("docs_plus", "qual")},
         |scored AS (SELECT doc_id,
         |  CAST(quality AS BIGINT) * 100000
         |   + CAST(len(string_split(text, ' ')) AS BIGINT) AS score
         | FROM qual),
         |lab AS (SELECT s.doc_id, s.score,
         |  COALESCE(l.component, s.doc_id) AS cluster
         | FROM scored s LEFT JOIN l3 l ON l.id = s.doc_id),
         |best AS (SELECT cluster, max(score) AS best_score,
         |  count(*) AS n_members FROM lab GROUP BY cluster)
         |SELECT b.cluster, min(l.doc_id) AS keep_id, b.best_score, b.n_members
         |FROM best b JOIN lab l
         | ON l.cluster = b.cluster AND l.score = b.best_score
         |GROUP BY b.cluster, b.best_score, b.n_members
         |ORDER BY b.cluster""".stripMargin,

    "text_dup_coverage" ->
      // exact-substring spans (the dedup_exact_substring chain), then
      // per-doc interval-union coverage via the running-max sweep
      s"""WITH $docsPlus,
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs_plus),
         |g AS (SELECT doc_id,
         |  unnest(range(0, greatest(len(toks) - 14, 0))) AS pos,
         |  unnest(list_transform(range(0, greatest(len(toks) - 14, 0)),
         |    i -> md5(array_to_string(toks[i+1:i+15], ' ')))) AS gh
         | FROM t),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         |cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
         | FROM cov),
         |spans AS (SELECT doc_id, min(pos) AS start_pos, max(pos) + 14 AS end_pos
         | FROM isl GROUP BY doc_id, island),
         |sweep AS (SELECT doc_id, start_pos, end_pos,
         |  max(end_pos) OVER (PARTITION BY doc_id ORDER BY start_pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         | FROM spans),
         |covn AS (SELECT doc_id,
         |  CAST(SUM(greatest(0, end_pos
         |    - greatest(start_pos - 1, COALESCE(prev_end, -1)))) AS BIGINT) AS dup_tokens
         | FROM sweep GROUP BY doc_id)
         |SELECT d.doc_id,
         | CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         | CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         | CAST(floor(COALESCE(c.dup_tokens, 0) * 1000
         |   / len(string_split(d.text, ' '))) AS BIGINT) AS dup_permille,
         | CAST(CASE WHEN floor(COALESCE(c.dup_tokens, 0) * 1000
         |   / len(string_split(d.text, ' '))) <= 300 THEN 1 ELSE 0 END
         |  AS INTEGER) AS keep
         |FROM docs_plus d LEFT JOIN covn c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "pipeline_curate" ->
      // keep-best over the components chain, quality gate, residual
      // exact-substring coverage — the three stages' twins composed
      s"""WITH $docsPlus, $sh3,
         |sigs AS (SELECT doc_id, $minhashMins FROM sh3 GROUP BY doc_id),
         |banded AS ($bandedUnion),
         |canon AS (SELECT band, sig, min(doc_id) AS canon FROM banded GROUP BY 1, 2),
         |pairs AS (SELECT DISTINCT c.canon AS a_id, b.doc_id AS b_id
         | FROM banded b JOIN canon c USING (band, sig) WHERE b.doc_id <> c.canon),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         | UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |l0 AS (SELECT DISTINCT src AS id, src AS component FROM edges),
         |${bspRound("l0", "l1")},
         |${bspRound("l1", "l2")},
         |${bspRound("l2", "l3")},
         |${qualityCte("docs_plus", "qual")},
         |scored AS (SELECT doc_id,
         |  CAST(quality AS BIGINT) * 100000
         |   + CAST(len(string_split(text, ' ')) AS BIGINT) AS score
         | FROM qual),
         |lab AS (SELECT s.doc_id, s.score,
         |  COALESCE(l.component, s.doc_id) AS cluster
         | FROM scored s LEFT JOIN l3 l ON l.id = s.doc_id),
         |best AS (SELECT cluster, max(score) AS best_score
         | FROM lab GROUP BY cluster),
         |bestk AS (SELECT b.cluster, min(l.doc_id) AS keep_id, b.best_score
         | FROM best b JOIN lab l
         |  ON l.cluster = b.cluster AND l.score = b.best_score
         | GROUP BY b.cluster, b.best_score),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs_plus),
         |g AS (SELECT doc_id,
         |  unnest(range(0, greatest(len(toks) - 14, 0))) AS pos,
         |  unnest(list_transform(range(0, greatest(len(toks) - 14, 0)),
         |    i -> md5(array_to_string(toks[i+1:i+15], ' ')))) AS gh
         | FROM t),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         |cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
         | FROM cov),
         |spans AS (SELECT doc_id, min(pos) AS start_pos, max(pos) + 14 AS end_pos
         | FROM isl GROUP BY doc_id, island),
         |sweep AS (SELECT doc_id, start_pos, end_pos,
         |  max(end_pos) OVER (PARTITION BY doc_id ORDER BY start_pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         | FROM spans),
         |covn AS (SELECT doc_id,
         |  CAST(SUM(greatest(0, end_pos
         |    - greatest(start_pos - 1, COALESCE(prev_end, -1)))) AS BIGINT) AS dup_tokens
         | FROM sweep GROUP BY doc_id)
         |SELECT b.keep_id AS doc_id, b.cluster, b.best_score,
         | CAST(len(string_split(q.text, ' ')) AS BIGINT) AS n_tokens,
         | CAST(floor(COALESCE(c.dup_tokens, 0) * 1000
         |   / len(string_split(q.text, ' '))) AS BIGINT) AS dup_permille
         |FROM bestk b
         |JOIN qual q ON q.doc_id = b.keep_id AND q.quality >= 2
         |LEFT JOIN covn c ON c.doc_id = b.keep_id
         |ORDER BY doc_id""".stripMargin,

    "dedup_cdc_chunks" -> {
      // 32-bit token hash = first 8 md5 nibbles (Horner fold — conv()
      // does not exist in DuckDB); boundary token ends a chunk; chunk
      // index = exclusive running sum of boundary flags per doc
      val tokHash = md5Fold32("tok")
      s"""WITH $docsPlus,
         |tok AS (
         | -- aligned unnests: (pos, tok) pairs with no token cap and
         | -- no cross-join (range() takes no lateral column refs)
         | SELECT doc_id,
         |  CAST(unnest(range(len(string_split(text,' ')))) AS BIGINT) AS pos,
         |  unnest(string_split(text,' ')) AS tok
         | FROM docs_plus),
         |hashed AS (SELECT doc_id, pos, tok,
         |  CASE WHEN ($tokHash) % 16 = 0 THEN 1 ELSE 0 END AS flag FROM tok),
         |chunked AS (SELECT doc_id, pos, tok,
         |  COALESCE(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
         | FROM hashed),
         |chunks AS (SELECT doc_id, chunk,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp,
         |  CAST(count(*) AS BIGINT) AS n_tokens
         | FROM chunked GROUP BY doc_id, chunk)
         |SELECT chunk_fp, max(n_tokens) AS n_tokens,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  min(doc_id) AS keep_doc
         |FROM chunks GROUP BY chunk_fp HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_fp""".stripMargin
    },

    "dedup_components_star_chain" ->
      // high-diameter witness: chains of ≤32 consecutive doc_ids;
      // 5 alternating rounds must close a diameter-31 path (the round
      // count BINDS here — per-hop propagation would need 31)
      s"""WITH ids AS (SELECT doc_id FROM documents),
         |chain AS (SELECT a.doc_id AS a, a.doc_id + 1 AS b
         |  FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 32 <> 31),
         |es0 AS MATERIALIZED (SELECT a, b FROM chain),
         |${starRound(1, "es0")},
         |${starRound(2, "es1")},
         |${starRound(3, "es2")},
         |${starRound(4, "es3")},
         |${starRound(5, "es4")}
         |SELECT doc_id, min(component) AS component FROM (
         | SELECT b AS doc_id, a AS component FROM es5
         | UNION ALL SELECT a, a FROM es5) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "dedup_components_star_adaptive" -> {
      // same chain graph, but the ROUND COUNT is part of the contract:
      // replay star rounds to the engine's maxRounds bound (8) and
      // detect the first round-over-round fixpoint with the identical
      // count + set-difference probes the Spark loop runs; labels read
      // off es8 (≡ the fixpoint — a converged star forest reproduces
      // itself, so every later round is a no-op)
      val eqs = (1 to 8).map { k =>
        s"((SELECT count(*) FROM es$k) = (SELECT count(*) FROM es${k - 1}) AND " +
          s"NOT EXISTS (SELECT 1 FROM (SELECT a, b FROM es$k EXCEPT SELECT a, b FROM es${k - 1}))) AS e$k"
      }.mkString(", ")
      val cases = (1 to 8).map(k => s"WHEN e$k THEN $k").mkString(" ")
      s"""WITH ids AS (SELECT doc_id FROM documents),
         |chain AS (SELECT a.doc_id AS a, a.doc_id + 1 AS b
         |  FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 32 <> 31),
         |es0 AS MATERIALIZED (SELECT DISTINCT a, b FROM chain),
         |${starRound(1, "es0")},
         |${starRound(2, "es1")},
         |${starRound(3, "es2")},
         |${starRound(4, "es3")},
         |${starRound(5, "es4")},
         |${starRound(6, "es5")},
         |${starRound(7, "es6")},
         |${starRound(8, "es7")},
         |eqs AS (SELECT $eqs),
         |ru AS (SELECT CAST(CASE $cases ELSE 8 END AS INTEGER) AS rounds_used FROM eqs)
         |SELECT l.doc_id, l.component, r.rounds_used FROM (
         | SELECT doc_id, min(component) AS component FROM (
         |  SELECT b AS doc_id, a AS component FROM es8
         |  UNION ALL SELECT a, a FROM es8) GROUP BY doc_id) l
         |CROSS JOIN ru r
         |ORDER BY l.doc_id""".stripMargin
    },

    "pipeline_clean_corpus" ->
      s"""WITH $docsPlus,
         |${qualityCte("docs_plus", "qual")},
         |dpq AS (SELECT doc_id, text FROM qual WHERE quality >= 2),
         |sh3q AS (SELECT doc_id, unnest(list_transform(
         |   range(0, greatest(len(string_split(text,' ')) - 2, 0)),
         |   i -> md5(array_to_string(string_split(text,' ')[i+1:i+3], ' ')))) AS sh
         | FROM dpq),
         |sigs AS (SELECT doc_id, $minhashMins FROM sh3q GROUP BY doc_id),
         |banded AS ($bandedUnion),
         |canon AS (SELECT band, sig, min(doc_id) AS canon FROM banded GROUP BY 1, 2),
         |pairs AS (SELECT DISTINCT c.canon AS a_id, b.doc_id AS b_id
         | FROM banded b JOIN canon c USING (band, sig) WHERE b.doc_id <> c.canon),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         | UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |l0 AS (SELECT DISTINCT src AS id, src AS component FROM edges),
         |${bspRound("l0", "l1")},
         |${bspRound("l1", "l2")},
         |${bspRound("l2", "l3")}
         |SELECT q.doc_id FROM dpq q LEFT JOIN l3 ON l3.id = q.doc_id
         |WHERE coalesce(l3.component, q.doc_id) = q.doc_id
         |ORDER BY q.doc_id""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH $docsPlus, $sh3,
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |inter AS (SELECT l.doc_id AS a_id, r.doc_id AS b_id, count(*) AS i
         | FROM shd l JOIN shd r ON l.sh = r.sh AND l.doc_id < r.doc_id GROUP BY 1, 2)
         |SELECT a_id, b_id,
         | CAST(floor(i * 1000 / (sa.n + sb.n - i)) AS BIGINT) AS jaccard_pm
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = a_id
         |JOIN sizes sb ON sb.doc_id = b_id
         |WHERE floor(i * 1000 / (sa.n + sb.n - i)) >= 500
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_jaccard_capped" ->
      s"""WITH $docsPlus, $sh3,
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh3),
         |capped AS (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM shd
         | QUALIFY df <= 10),
         |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
         |inter AS (SELECT l.doc_id AS a_id, r.doc_id AS b_id, count(*) AS i
         | FROM capped l JOIN capped r ON l.sh = r.sh AND l.doc_id < r.doc_id GROUP BY 1, 2)
         |SELECT a_id, b_id,
         | CAST(floor(i * 1000 / (sa.n + sb.n - i)) AS BIGINT) AS jaccard_pm
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = a_id
         |JOIN sizes sb ON sb.doc_id = b_id
         |WHERE floor(i * 1000 / (sa.n + sb.n - i)) >= 500
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_containment" ->
      s"""WITH $docsPlus, $sh3,
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |inter AS (SELECT l.doc_id AS a_id, r.doc_id AS b_id, count(*) AS i
         | FROM shd l JOIN shd r ON l.sh = r.sh AND l.doc_id < r.doc_id GROUP BY 1, 2),
         |dirs AS (
         | SELECT a_id AS src_id, b_id AS dst_id,
         |  CAST(floor(i * 1000 / sa.n) AS BIGINT) AS containment_pm
         | FROM inter JOIN sizes sa ON sa.doc_id = a_id
         | UNION ALL
         | SELECT b_id AS src_id, a_id AS dst_id,
         |  CAST(floor(i * 1000 / sb.n) AS BIGINT) AS containment_pm
         | FROM inter JOIN sizes sb ON sb.doc_id = b_id)
         |SELECT src_id, dst_id, containment_pm FROM dirs
         |WHERE containment_pm >= 800 ORDER BY src_id, dst_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $docsPlus, ${simhashCte("docs_plus")},
         |blocks AS (
         | SELECT doc_id, sh, b AS block, (sh >> (b*8)) & 255 AS key
         | FROM shx, range(4) r(b)),
         |pairs AS (
         | SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
         |  CAST(bit_count(xor(l.sh, r.sh)) AS INTEGER) AS hamming
         | FROM blocks l JOIN blocks r
         |  ON l.block = r.block AND l.key = r.key AND l.doc_id < r.doc_id)
         |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_simhash_star" ->
      s"""WITH $docsPlus, ${simhashCte("docs_plus")},
         |blocks AS (
         | SELECT doc_id, sh, b AS block, (sh >> (b*8)) & 255 AS key
         | FROM shx, range(4) r(b)),
         |canon AS (SELECT block, key, doc_id AS cid, sh AS csh FROM (
         |  SELECT *, row_number() OVER (PARTITION BY block, key ORDER BY doc_id) AS rn
         |  FROM blocks) WHERE rn = 1)
         |SELECT DISTINCT c.cid AS a_id, m.doc_id AS b_id,
         | CAST(bit_count(xor(c.csh, m.sh)) AS INTEGER) AS hamming
         |FROM blocks m JOIN canon c USING (block, key)
         |WHERE m.doc_id <> c.cid
         | AND bit_count(xor(c.csh, m.sh)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_simhash64" ->
      s"""WITH $docsPlus, ${simhash64Cte("docs_plus")},
         |blocks AS (
         | SELECT doc_id, lo, hi, b AS block,
         |  CASE WHEN b < 2 THEN (lo >> (b*16)) & 65535
         |       ELSE (hi >> ((b-2)*16)) & 65535 END AS key
         | FROM shx64, range(4) r(b)),
         |pairs AS (
         | SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
         |  CAST(bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi)) AS INTEGER) AS hamming
         | FROM blocks l JOIN blocks r
         |  ON l.block = r.block AND l.key = r.key AND l.doc_id < r.doc_id)
         |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_embedding" ->
      s"""WITH $qEmb,
         |muts AS (SELECT vec_id + 100000 AS vec_id, bucket,
         |  list_transform(list_zip(qv, range(len(qv))),
         |    p -> CASE WHEN p[2] = 0 THEN CAST(0 AS BIGINT) ELSE p[1] END) AS qv
         | FROM qemb),
         |allv AS (SELECT *, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
         | FROM (SELECT * FROM qemb UNION ALL SELECT * FROM muts)),
         |pairs AS (SELECT l.vec_id AS a_id, r.vec_id AS b_id,
         |  ${dot("l.qv", "r.qv")} AS dot, l.nsq AS nl, r.nsq AS nr
         | FROM allv l JOIN allv r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT a_id, b_id, dot FROM pairs
         |WHERE dot > 0
         | AND CAST(dot AS HUGEINT)*dot*10000 >= CAST(nl AS HUGEINT)*nr*6400
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_embedding_star" ->
      s"""WITH $qEmb,
         |muts AS (SELECT vec_id + 100000 AS vec_id, bucket,
         |  list_transform(list_zip(qv, range(len(qv))),
         |    p -> CASE WHEN p[2] = 0 THEN CAST(0 AS BIGINT) ELSE p[1] END) AS qv
         | FROM qemb),
         |allv AS (SELECT *, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
         | FROM (SELECT * FROM qemb UNION ALL SELECT * FROM muts)),
         |canon AS (SELECT bucket, vec_id AS cid, qv AS cqv, nsq AS cnsq FROM (
         |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
         |  FROM allv) WHERE rn = 1),
         |pairs AS (SELECT c.cid AS a_id, v.vec_id AS b_id,
         |  ${dot("v.qv", "c.cqv")} AS dot, v.nsq AS nl, c.cnsq AS nr
         | FROM allv v JOIN canon c USING (bucket) WHERE v.vec_id <> c.cid)
         |SELECT a_id, b_id, dot FROM pairs
         |WHERE dot > 0
         | AND CAST(dot AS HUGEINT)*dot*10000 >= CAST(nl AS HUGEINT)*nr*6400
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_cluster_sigs" -> {
      val outer = (0 until 8).map(k => s"min(mh$k)").mkString(", ")
      """WITH shd AS (
        | SELECT doc_id, unnest(list_transform(
        |   range(0, greatest(len(string_split(text,' ')) - 2, 0)),
        |   i -> md5(array_to_string(string_split(text,' ')[i+1:i+3], ' ')))) AS sh
        | FROM documents),
        |""".stripMargin +
        s"""sigs AS (SELECT doc_id, $minhashMins FROM shd GROUP BY doc_id)
           |SELECT doc_id % 16 AS bucket,
           | md5(array_to_string([$outer], '|')) AS cluster_sig
           |FROM sigs GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "sim_topk_brute" ->
      s"""WITH $qEmb,
         |q AS (SELECT vec_id AS query_id, qv AS q_qv FROM qemb WHERE vec_id < 8),
         |it AS (SELECT vec_id AS item_id, qv FROM qemb),
         |scored AS (SELECT query_id, item_id, ${dot("q_qv", "qv")} AS dot
         | FROM q, it WHERE query_id <> item_id)
         |SELECT query_id, item_id, dot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dot DESC, item_id) AS rnk FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "sim_topk_lsh" ->
      s"""WITH $qEmb,
         |q AS (SELECT vec_id AS query_id, bucket, qv AS q_qv FROM qemb WHERE vec_id < 8),
         |it AS (SELECT vec_id AS item_id, bucket, qv FROM qemb),
         |scored AS (SELECT query_id, item_id, ${dot("q_qv", "qv")} AS dot
         | FROM q JOIN it USING (bucket) WHERE query_id <> item_id)
         |SELECT query_id, item_id, dot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dot DESC, item_id) AS rnk FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "sim_topk_lsh_multi" -> {
      def bucket(t: Int) = (0 until 4).map(i =>
        s"CASE WHEN embedding[${t * 4 + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END")
        .mkString(" + ")
      s"""WITH base AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv,
         |  [${bucket(0)}, ${bucket(1)}] AS bks
         | FROM embeddings),
         |e AS (SELECT vec_id, t AS tbl, bks[t+1] AS bucket FROM base, range(2) r(t)),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, i.vec_id AS item_id
         | FROM e q JOIN e i ON q.tbl = i.tbl AND q.bucket = i.bucket
         | WHERE q.vec_id < 8 AND q.vec_id <> i.vec_id),
         |scored AS (SELECT query_id, item_id, ${dot("bq.qv", "bi.qv")} AS dot
         | FROM cand JOIN base bq ON bq.vec_id = query_id
         |           JOIN base bi ON bi.vec_id = item_id)
         |SELECT query_id, item_id, dot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dot DESC, item_id) AS rnk FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
    },

    "sim_topk_ivf" ->
      s"""WITH $qEmb,
         |qn AS (SELECT vec_id, qv,
         |  CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS vn FROM qemb),
         |cent AS (SELECT vec_id AS cid, qv AS cv, vn AS cn FROM qn WHERE vec_id < 8),
         |assign AS (SELECT vec_id, qv, cid,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY vn - 2*${dot("qv", "cv")} + cn, cid) AS crk
         | FROM qn, cent),
         |lists AS (SELECT vec_id AS item_id, qv, cid FROM assign WHERE crk = 1),
         |probes AS (SELECT vec_id AS query_id, qv AS q_qv, cid FROM assign
         | WHERE vec_id < 8 AND crk <= 2),
         |scored AS (SELECT query_id, item_id, ${dot("q_qv", "qv")} AS dot
         | FROM probes JOIN lists USING (cid) WHERE query_id <> item_id)
         |SELECT query_id, item_id, dot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dot DESC, item_id) AS rnk FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "sim_topk_ivf_kmeans" -> {
      // replay of Similarity.ivfTopKKmeans: seeds = first 8 vectors,
      // 2 Lloyd iterations of (nearest-centroid assign, floor-of-mean
      // integer recompute), then the standard IVF probe/rank
      def assignCte(name: String, centN: String) =
        s"""$name AS (SELECT vec_id, qv, cid FROM (
           | SELECT q.vec_id, q.qv, c.cid,
           |  row_number() OVER (PARTITION BY q.vec_id
           |   ORDER BY q.vn - 2*${dot("q.qv", "c.cv")} + c.cn, c.cid) AS rk
           | FROM qn q, $centN c) WHERE rk = 1)""".stripMargin
      def centCte(asg: String, out: String) =
        s"""${out}e AS (SELECT cid, CAST(unnest(range(len(qv))) AS INTEGER) AS d,
           |  unnest(qv) AS x FROM $asg),
           |$out AS (SELECT cid, list(m ORDER BY d) AS cv FROM
           | (SELECT cid, d, CAST(floor(sum(x)/count(*)) AS BIGINT) AS m
           |  FROM ${out}e GROUP BY 1, 2) GROUP BY cid),
           |${out}n AS (SELECT cid, cv,
           |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn FROM $out)""".stripMargin
      s"""WITH $qEmb,
         |qn AS (SELECT vec_id, qv,
         |  CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS vn FROM qemb),
         |c0n AS (SELECT vec_id AS cid, qv AS cv, vn AS cn FROM qn WHERE vec_id < 8),
         |${assignCte("a0", "c0n")},
         |${centCte("a0", "c1")},
         |${assignCte("a1", "c1n")},
         |${centCte("a1", "c2")},
         |${assignCte("a2", "c2n")},
         |lists AS (SELECT vec_id AS item_id, qv, cid FROM a2),
         |probes AS (SELECT vec_id AS query_id, qv AS q_qv, cid FROM (
         | SELECT q.vec_id, q.qv, c.cid,
         |  row_number() OVER (PARTITION BY q.vec_id
         |   ORDER BY q.vn - 2*${dot("q.qv", "c.cv")} + c.cn, c.cid) AS rk
         | FROM qn q, c2n c WHERE q.vec_id < 8) WHERE rk <= 2),
         |scored AS (SELECT query_id, item_id, ${dot("q_qv", "qv")} AS dot
         | FROM probes JOIN lists USING (cid) WHERE query_id <> item_id)
         |SELECT query_id, item_id, dot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dot DESC, item_id) AS rnk FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
    },

    // IVF-ADC product-quantization replay (Similarity.ivfPqTopK):
    // coarse stage = sim_topk_ivf's seed assignment; 4 subspaces of 16
    // dims, codebooks = subvectors of the first 16 items; encode by
    // exact integer L2² (ties to the smaller code); score via the
    // query×sub×code lookup table and sum the 4 partial dots
    "sim_topk_pq" ->
      s"""WITH $pqScoredCtes
         |SELECT query_id, item_id, adot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY adot DESC, item_id) AS rnk FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // learned-codebook PQ replay: 2 per-subspace Lloyd iterations
    // (assign-by-L2², floor-of-mean recompute) from the same seeds,
    // then the standard encode/LUT/score over the trained table
    "sim_topk_pq_kmeans" ->
      s"""WITH $pqKmeansScoredCtes
         |SELECT query_id, item_id, adot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY adot DESC, item_id) AS rnk FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // two-stage replay: PQ shortlist (top-20 by ADC score) then exact
    // integer dot re-rank of only the shortlist rows
    "sim_topk_pq_rerank" ->
      s"""WITH $pqScoredCtes,
         |short AS (SELECT query_id, item_id
         | FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY adot DESC, item_id) AS srk FROM scored)
         | WHERE srk <= 20),
         |rescored AS (SELECT s.query_id, s.item_id,
         |  ${dot("qq.qv", "qi.qv")} AS dot
         | FROM short s JOIN qn qq ON qq.vec_id = s.query_id
         |              JOIN qn qi ON qi.vec_id = s.item_id)
         |SELECT query_id, item_id, dot, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dot DESC, item_id) AS rnk FROM rescored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "text_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS n_chars_tok
        | FROM t)
        |SELECT doc_id, n_tokens, n_distinct,
        | CAST(floor(n_stop * 1000 / n_tokens) AS BIGINT) AS stop_pm,
        | CAST(floor(n_chars_tok * 100 / n_tokens) AS BIGINT) AS tok_len_centi,
        | CAST((CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END)
        |    + (CASE WHEN floor(n_distinct * 1000 / n_tokens) >= 400 THEN 1 ELSE 0 END)
        |    + (CASE WHEN floor(n_stop * 1000 / n_tokens) BETWEEN 10 AND 600 THEN 1 ELSE 0 END)
        |   AS INTEGER) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    // KMV sketch twin: identical 52-bit md5-prefix hashes, identical
    // bottom-64 set, identical integer estimate 63·2^52 // h_(64)
    "text_distinct_kmv" -> {
      val hex52 = (1 to 13).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
        s"($acc * 16 + (strpos('0123456789abcdef', substr(md5(t), $i, 1)) - 1))"
      }
      s"""WITH tok AS (SELECT doc_id % 8 AS bucket, unnest(string_split(text, ' ')) AS t
         | FROM documents),
         |hv AS (SELECT DISTINCT bucket, $hex52 AS hv FROM tok),
         |cnt AS (SELECT bucket, count(*) AS m FROM hv GROUP BY 1),
         |rk AS (SELECT bucket, hv, row_number() OVER (PARTITION BY bucket ORDER BY hv) AS rn
         | FROM hv),
         |kth AS (SELECT bucket, hv AS kth FROM rk WHERE rn = 64),
         |ex AS (SELECT bucket, CAST(count(DISTINCT t) AS BIGINT) AS exact_distinct
         | FROM tok GROUP BY 1)
         |SELECT c.bucket,
         | CAST(CASE WHEN k.kth IS NULL THEN c.m
         |      ELSE 283726776524341248 // k.kth END AS BIGINT) AS kmv_estimate,
         | e.exact_distinct
         |FROM cnt c LEFT JOIN kth k USING (bucket) JOIN ex e USING (bucket)
         |ORDER BY c.bucket""".stripMargin
    },

    "text_tfidf_top3" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfx AS (SELECT token, count(*) AS df
        | FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
        |sc AS (SELECT doc_id, token, tf, df,
        |  CAST(floor(tf * 1000000 / df) AS BIGINT) AS score
        | FROM tf JOIN dfx USING (token)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, token) AS rk FROM sc)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rk, token, tf, df, score
        |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "sample_stratified" -> {
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      s"""WITH ${qualityCte("documents", "qual")},
         |h AS (SELECT doc_id, quality,
         |  CAST(((${nib(1)}*16 + ${nib(2)})*16 + ${nib(3)})*16 + ${nib(4)} AS BIGINT) % 1000 AS h
         | FROM qual)
         |SELECT doc_id, quality, h FROM h
         |WHERE h < CASE quality WHEN 3 THEN 1000 WHEN 2 THEN 500 WHEN 1 THEN 100 ELSE 10 END
         |ORDER BY doc_id""".stripMargin
    },

    "q_events_funnel" ->
      // first-qualifying-time replay: t2 = first click strictly after
      // t1, t3 = first purchase strictly after t2; stage = depth
      """WITH ev AS (SELECT user_id, event_type AS et, epoch_ms(ts) AS tms FROM events),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |s1 AS (SELECT user_id, min(tms) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.tms) AS t2 FROM ev e
        |  JOIN s1 ON s1.user_id = e.user_id AND e.tms > s1.t1
        |  WHERE e.et = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.tms) AS t3 FROM ev e
        |  JOIN s2 ON s2.user_id = e.user_id AND e.tms > s2.t2
        |  WHERE e.et = 'purchase' GROUP BY 1)
        |SELECT u.user_id, t1, t2, t3,
        | CAST(CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INTEGER) AS stage
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_events_funnel_window" ->
      // the 24h-conversion-window funnel: stage K qualifies only
      // within 86400000 ms of stage K-1 (first stage unbounded);
      // min-under-constraint preserves first-qualifying-time
      """WITH ev AS (SELECT user_id, event_type AS et, epoch_ms(ts) AS tms FROM events),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |s1 AS (SELECT user_id, min(tms) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.tms) AS t2 FROM ev e
        |  JOIN s1 ON s1.user_id = e.user_id AND e.tms > s1.t1
        |    AND e.tms <= s1.t1 + 86400000
        |  WHERE e.et = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.tms) AS t3 FROM ev e
        |  JOIN s2 ON s2.user_id = e.user_id AND e.tms > s2.t2
        |    AND e.tms <= s2.t2 + 86400000
        |  WHERE e.et = 'purchase' GROUP BY 1)
        |SELECT u.user_id, t1, t2, t3,
        | CAST(CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INTEGER) AS stage
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "pipeline_report" ->
      // per-language corpus health closed-form: token counts, exact
      // fingerprints occurring >= 2 corpus-wide, the 3-rule quality
      // gate — the same integer expressions as text_stats/dedup_exact
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, lang,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
        |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        | FROM t),
        |q AS (SELECT *,
        |  CAST((CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END)
        |     + (CASE WHEN floor(n_distinct * 1000 / n_tokens) >= 400 THEN 1 ELSE 0 END)
        |     + (CASE WHEN floor(n_stop * 1000 / n_tokens) BETWEEN 10 AND 600 THEN 1 ELSE 0 END)
        |    AS INTEGER) AS quality FROM m),
        |d AS (SELECT fp FROM q GROUP BY fp HAVING count(*) >= 2)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN fp IN (SELECT fp FROM d) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        | CAST(sum(CASE WHEN quality >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ge2
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "q_events_retention" ->
      // weekly cohorts: floor-integer epoch weeks; offset-0 rows are
      // cohort sizes
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        |c AS (SELECT user_id, min(tms) // 604800000 AS cohort FROM ev GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, tms // 604800000 AS period FROM ev)
        |SELECT cohort, CAST(period - cohort AS BIGINT) AS period_offset,
        | count(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, period_offset""".stripMargin,

    "graph_pagerank" -> {
      // exact replay of Graphs.pageRank: 3 rounds of
      // pr' = 150000 + (850 * sum(pr // outdeg)) // 1000 over the
      // deterministic synthetic edge set; AS MATERIALIZED so each
      // round computes once (the componentsStar lesson)
      def round(k: Int) =
        s"""c$k AS (SELECT e.dst AS id, SUM(r.pr // od.outdeg) AS inflow
           | FROM e JOIN r${k - 1} r ON r.id = e.src
           | JOIN od ON od.src = e.src GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT nodes.id,
           |  CAST(150000 + (850 * COALESCE(c.inflow, 0)) // 1000 AS BIGINT) AS pr
           | FROM nodes LEFT JOIN c$k c USING (id))""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS MATERIALIZED (
         | SELECT src, dst FROM (
         |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst FROM documents, nn
         |  UNION ALL
         |  SELECT doc_id AS src, (doc_id * doc_id + 1) % nn.n AS dst FROM documents, nn)
         | WHERE src <> dst),
         |nodes AS MATERIALIZED (SELECT DISTINCT id FROM
         | (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT id, pr FROM r3 ORDER BY id""".stripMargin
    },

    "graph_pagerank_adaptive" -> {
      // replay of Graphs.pageRankAdaptive with DANGLING redistribution:
      // ids % 5 = 0 emit no edges (pure sinks); each round hands every
      // node floor(danglingSum / n) extra inflow before damping. Rounds
      // replayed to the engine's maxIterations bound (6); rounds_used =
      // the first round-over-round fixpoint detected with the identical
      // count + set-difference probes the Spark loop runs, else 6 —
      // and a converged ladder reproduces itself, so labels read off r6
      // either way
      def round(k: Int) =
        s"""dg$k AS (SELECT COALESCE(SUM(pr), 0) AS dang FROM r${k - 1}
           | WHERE id NOT IN (SELECT src FROM od)),
           |sh$k AS (SELECT CAST(dang // nn2.nnodes AS BIGINT) AS share FROM dg$k, nn2),
           |c$k AS (SELECT e.dst AS id, SUM(r.pr // od.outdeg) AS inflow
           | FROM e JOIN r${k - 1} r ON r.id = e.src
           | JOIN od ON od.src = e.src GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT nodes.id,
           |  CAST(150000 + (850 * (COALESCE(c.inflow, 0) + s.share)) // 1000 AS BIGINT) AS pr
           | FROM nodes LEFT JOIN c$k c USING (id) CROSS JOIN sh$k s)""".stripMargin
      val eqs = (1 to 6).map { k =>
        s"((SELECT count(*) FROM r$k) = (SELECT count(*) FROM r${k - 1}) AND " +
          s"NOT EXISTS (SELECT 1 FROM (SELECT id, pr FROM r$k EXCEPT SELECT id, pr FROM r${k - 1}))) AS e$k"
      }.mkString(", ")
      val cases = (1 to 6).map(k => s"WHEN e$k THEN $k").mkString(" ")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS MATERIALIZED (
         | SELECT src, dst FROM (
         |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
         |   FROM documents, nn WHERE doc_id % 5 <> 0
         |  UNION ALL
         |  SELECT doc_id AS src, (doc_id * doc_id + 1) % nn.n AS dst
         |   FROM documents, nn WHERE doc_id % 5 <> 0)
         | WHERE src <> dst),
         |nodes AS MATERIALIZED (SELECT DISTINCT id FROM
         | (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |nn2 AS (SELECT count(*) AS nnodes FROM nodes),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |${round(4)},
         |${round(5)},
         |${round(6)},
         |eqs AS (SELECT $eqs),
         |ru AS (SELECT CAST(CASE $cases ELSE 6 END AS INTEGER) AS rounds_used FROM eqs)
         |SELECT r.id, r.pr, u.rounds_used FROM r6 r CROSS JOIN ru u
         |ORDER BY r.id""".stripMargin
    },

    "sample_temperature" -> {
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      s"""WITH c AS (SELECT lang, count(*) AS n_group FROM documents GROUP BY 1),
         |m AS (SELECT min(n_group) AS n_min FROM c),
         |h AS (SELECT doc_id, lang,
         |  CAST(((${nib(1)}*16 + ${nib(2)})*16 + ${nib(3)})*16 + ${nib(4)} AS BIGINT) % 1000 AS h
         | FROM documents)
         |SELECT doc_id, lang, n_group, h
         |FROM h JOIN c USING (lang), m
         |WHERE CAST(h AS HUGEINT) * h * n_group < CAST(n_min AS HUGEINT) * 1000000
         |ORDER BY doc_id""".stripMargin
    },

    "pipeline_seq_pack" ->
      // concat-and-chunk manifest: per-shard exclusive running token
      // offsets, doc -> sequence intersections via aligned ranges
      """WITH c AS (SELECT doc_id, doc_id % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM c),
        |e AS (SELECT shard, doc_id, n_tokens, off,
        |  unnest(range(CAST(off // 128 AS BIGINT), CAST((off + n_tokens - 1) // 128 + 1 AS BIGINT))) AS seq_idx FROM o)
        |SELECT shard, seq_idx, doc_id,
        | greatest(off - seq_idx * 128, 0) AS seq_begin,
        | least(off + n_tokens - seq_idx * 128, 128) - 1 AS seq_end,
        | least(off + n_tokens - seq_idx * 128, 128) - 1
        |   - greatest(off - seq_idx * 128, 0) + 1 AS tokens_in_seq
        |FROM e ORDER BY shard, seq_idx, doc_id""".stripMargin,

    "text_gopher_quality" ->
      // flags as 0/1 INTs (cross-engine boolean-encoding-proof); the
      // sum-of-token-chars identity length(text) - (n-1) holds because
      // tokens split on single spaces
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_words,
        |  CAST(length(text) - (len(toks) - 1) AS INTEGER) AS word_chars,
        |  CAST(length(text) - length(replace(text, '#', '')) AS INTEGER) AS n_hash,
        |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS INTEGER) AS n_ellipsis,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS INTEGER) AS alpha_words,
        |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |    w -> list_contains(toks, w))) AS INTEGER) AS stopword_kinds
        | FROM t)
        |SELECT *,
        | CAST(ok_word_count * ok_mean_word_len * ok_symbol_ratio * ok_alpha * ok_stopwords AS INTEGER) AS gopher_pass
        |FROM (SELECT b.*,
        | CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS INTEGER) AS ok_word_count,
        | CAST(CASE WHEN word_chars >= n_words * 3 AND word_chars <= n_words * 10 THEN 1 ELSE 0 END AS INTEGER) AS ok_mean_word_len,
        | CAST(CASE WHEN (n_hash + n_ellipsis) * 10 <= n_words THEN 1 ELSE 0 END AS INTEGER) AS ok_symbol_ratio,
        | CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS INTEGER) AS ok_alpha,
        | CAST(CASE WHEN stopword_kinds >= 2 THEN 1 ELSE 0 END AS INTEGER) AS ok_stopwords
        | FROM b)
        |ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |ts AS (SELECT doc_id, max(c) AS max_tok, CAST(sum(c) AS BIGINT) AS n_tok,
        |  count(*) AS n_dist
        | FROM (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2) GROUP BY 1),
        |g AS (SELECT doc_id, unnest(list_transform(
        |  range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |  i -> md5(array_to_string(string_split(text, ' ')[i+1:i+2], ' ')))) AS g
        | FROM documents),
        |gs AS (SELECT doc_id, max(c) AS max_g2, CAST(sum(c) AS BIGINT) AS n_g2
        | FROM (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2) GROUP BY 1)
        |SELECT ts.doc_id,
        | CAST(floor(max_tok * 1000 / n_tok) AS BIGINT) AS top_tok_pm,
        | CAST(floor((n_tok - n_dist) * 1000 / n_tok) AS BIGINT) AS dup_tok_pm,
        | CAST(coalesce(floor(max_g2 * 1000 / n_g2), 0) AS BIGINT) AS top_bigram_pm
        |FROM ts LEFT JOIN gs ON ts.doc_id = gs.doc_id
        |ORDER BY ts.doc_id""".stripMargin,

    "text_redact_pii" ->
      """WITH s AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |       || '@example.com or call +1-555-0'
        |       || CAST(doc_id % 1000 AS VARCHAR) || ' now' AS t2
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t2,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,4}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t2,
        |   '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(t2,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,4}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_tokens_fp" ->
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '${TextPatterns.Bpeish}')) AS BIGINT) AS bpe_tokens,
         | md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp_set,
         | CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |   list_transform(range(length(text)),
         |     i -> CAST(ascii(substr(text, CAST(i+1 AS INTEGER), 1)) AS BIGINT))),
         |   (a, b) -> (a*31+b) % 2147483647) AS BIGINT) AS fp_rolling
         |FROM documents ORDER BY doc_id""".stripMargin,

    // ---- extraction pipeline: the oracle side is the golden parquet
    // (expected output by construction) — extraction must equal it
    "extract_spans" ->
      s"""SELECT doc_id, CAST("order" AS INTEGER) AS ord, kind, media_ref,
         | md5(text) AS text_md5
         |FROM (SELECT doc_id, unnest(spans, recursive := true) FROM $GOLD)
         |ORDER BY doc_id, ord""".stripMargin,

    "extract_parity" ->
      s"""SELECT count(*) AS docs, count(*) AS matched FROM $GOLD""",

    "stream_extract_parity" ->
      s"""SELECT count(*) AS docs, count(*) AS matched FROM $GOLD
         |WHERE doc_id < 'doc00000200'""".stripMargin,

    // ---- multimodal plumbing: the stub decoder's features are a pure
    // function of the deterministic payload bytes — expressible in SQL
    "mm_media_features" -> {
      def byteAt(pos: Int) = // k-th byte of the md5 digest, from hex chars
        s"(strpos('0123456789abcdef', substr(h,${2 * pos + 1},1))-1)*16" +
          s" + (strpos('0123456789abcdef', substr(h,${2 * pos + 2},1))-1)"
      s"""WITH m AS (
         | SELECT i // 3 AS d, i % 3 AS j,
         |  md5(repeat(md5(CAST(i AS VARCHAR)), 4)) AS h
         | FROM range(600) t(i)),
         |b AS (SELECT d, j, h,
         |  ${byteAt(0)} AS u0, ${byteAt(1)} AS u1, ${byteAt(2)} AS u2 FROM m)
         |SELECT printf('doc%08d', d) AS doc_id, printf('m_%d_%d.bin', d, j) AS media_ref,
         | CAST(128 AS INTEGER) AS byte_len,
         | CASE u0 % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
         | CAST(16 * (1 + u1 % 64) AS INTEGER) AS width,
         | CAST(16 * (1 + u2 % 64) AS INTEGER) AS height,
         | substr(h, 1, 16) AS phash
         |FROM b ORDER BY doc_id, media_ref""".stripMargin
    },

    // REAL decode pin: payloads are real PNG/BMP/JPEG bytes of the
    // pixel formula gray(x,y,id) = (7x+13y+31·id) mod 256; the Spark
    // side decodes them through javax.imageio, the twin recomputes
    // dims + (lossless formats') decoded channel sum analytically.
    // range() takes no lateral column refs in DuckDB — cross-join the
    // max extent (12×14) and filter to each image's box instead
    "mm_decode_real" ->
      """WITH imgs AS (SELECT i AS id, CAST(8 + i % 5 AS INTEGER) AS width,
        |  CAST(8 + (i*3) % 7 AS INTEGER) AS height,
        |  CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS format
        | FROM range(60) t(i)),
        |px AS (SELECT id, CAST(3 * sum((xs.x * 7 + ys.y * 13 + id * 31) % 256) AS BIGINT) AS s
        | FROM imgs, range(12) xs(x), range(14) ys(y)
        | WHERE xs.x < width AND ys.y < height GROUP BY id)
        |SELECT imgs.id, format, width, height,
        | CASE WHEN format = 'jpeg' THEN CAST(-1 AS BIGINT) ELSE px.s END AS pix_sum
        |FROM imgs JOIN px USING (id) ORDER BY id""".stripMargin,

    // real-payload multimodal features: every materialized image is
    // now a real PNG (DCT decodes via ImageIO), dims parsed from IHDR
    "mm_pdf_image_features" ->
      """SELECT printf('doc%08d', i) AS doc_id,
        | printf('doc%08d_1_%d.png', i, j) AS media_ref,
        | 'png' AS format,
        | CAST(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 3 END AS INTEGER) AS width,
        | CAST(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 ELSE 2 END AS INTEGER) AS height
        |FROM range(400) t(i), range(4) u(j)
        |WHERE i % 10 BETWEEN 4 AND 8 AND i % 4 = 1
        |ORDER BY doc_id, media_ref""".stripMargin,

    // 8x8 thumbnails now exist for ALL four images per image doc —
    // every branch (JPEG-DCT included) materializes a decodable PNG
    "mm_thumbnails" ->
      """SELECT printf('doc%08d', i) AS doc_id,
        | printf('doc%08d_1_%d.png', i, j) AS media_ref,
        | CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height
        |FROM range(400) t(i), range(4) u(j)
        |WHERE i % 10 BETWEEN 4 AND 8 AND i % 4 = 1
        |ORDER BY doc_id, media_ref""".stripMargin,

    // frame chunks of the reconstructible synthetic payload
    // (repeat(md5(id), 4) = 4 chunks of 32 bytes; stride 2 -> 0 and 2)
    "mm_audio_features" ->
      // closed-form PCM: sample k of doc i = ((k*37 + i) % 2001) - 1000
      """SELECT printf('au%08d', i) AS doc_id, printf('a_%d.wav', i) AS media_ref,
        | CAST(8000 + i AS INTEGER) AS sample_rate,
        | CAST(1 + i % 2 AS INTEGER) AS channels,
        | CAST(16 AS INTEGER) AS bits,
        | CAST(256 // (1 + i % 2) AS BIGINT) AS n_frames,
        | CAST(list_max(list_transform(range(256),
        |   k -> abs((k*37 + i) % 2001 - 1000))) AS BIGINT) AS peak_abs,
        | CAST(list_sum(list_transform(range(256),
        |   k -> abs((k*37 + i) % 2001 - 1000))) AS BIGINT) AS sum_abs
        |FROM range(60) t(i)
        |ORDER BY doc_id""".stripMargin,

    "mm_audio_pitch" ->
      // full replay: regenerate the samples, every lag's correlation,
      // and the argmax (max corr, ties to the smallest lag) in SQL
      """WITH s AS (
        | SELECT i, list_transform(range(240), k ->
        |   CAST(CASE WHEN (k // (2 + i % 4)) % 2 = 0 THEN 1000 ELSE -1000 END
        |     + (k * 7 + i) % 11 - 5 AS BIGINT)) AS xs
        | FROM range(48) t(i)),
        |r AS (
        | SELECT i, lag, CAST(list_sum(list_transform(range(240 - lag),
        |   j -> xs[j + 1] * xs[j + lag + 1])) AS BIGINT) AS corr
        | FROM s, range(1, 33) l(lag)),
        |bm AS (SELECT i, max(corr) AS best_corr FROM r GROUP BY i),
        |bl AS (SELECT r.i, min(r.lag) AS best_lag, bm.best_corr
        | FROM r JOIN bm ON bm.i = r.i AND r.corr = bm.best_corr
        | GROUP BY r.i, bm.best_corr)
        |SELECT printf('ap%08d', s.i) AS doc_id, printf('p_%d.wav', s.i) AS media_ref,
        | CAST(240 AS BIGINT) AS n_frames,
        | CAST(list_sum(list_transform(s.xs, x -> x * x)) AS BIGINT) AS energy,
        | CAST(bl.best_lag AS INTEGER) AS best_lag,
        | CAST(bl.best_corr AS BIGINT) AS best_corr
        |FROM s JOIN bl ON bl.i = s.i
        |ORDER BY doc_id""".stripMargin,

    "mm_audio_frames" ->
      // windowed replay: regenerate the samples, slice 60-sample
      // windows, recompute each window's zero-crossing count (zero
      // counted non-negative), energy and peak
      """WITH s AS (
        | SELECT i, list_transform(range(240), k ->
        |   CAST(CASE WHEN (k // (2 + i % 4)) % 2 = 0 THEN 1000 ELSE -1000 END
        |     + (k * 7 + i) % 11 - 5 AS BIGINT)) AS xs
        | FROM range(48) t(i)),
        |w AS (SELECT i, fi, list_slice(xs, fi*60 + 1, fi*60 + 60) AS sl
        | FROM s, range(4) f(fi))
        |SELECT printf('af%08d', i) AS doc_id, printf('f_%d.wav', i) AS media_ref,
        | CAST(fi AS INTEGER) AS frame_idx, CAST(60 AS INTEGER) AS n,
        | CAST(list_sum(list_transform(range(59), j ->
        |   CASE WHEN (sl[j + 1] >= 0) <> (sl[j + 2] >= 0) THEN 1 ELSE 0 END))
        |  AS INTEGER) AS zcr,
        | CAST(list_sum(list_transform(sl, x -> x * x)) AS BIGINT) AS energy,
        | CAST(list_max(list_transform(sl, x -> abs(x))) AS INTEGER) AS peak
        |FROM w ORDER BY doc_id, frame_idx""".stripMargin,

    "dedup_image_phash" ->
      // aHash replay: the 2x nearest-neighbor resize samples pixel
      // (2cx, 2cy); grayscale = the pixel's closed-form gray; mean =
      // integer floor; hash = two 32-bit halves (the simhash64
      // convention); pairs = EXACT Hamming <= 3 over all pairs — the
      // operator's banded LSH has recall 1.0 at this threshold by
      // pigeonhole (4 disjoint 16-bit bands), so all-pairs replay is
      // set-identical to the banded plan
      """WITH cells AS (
        | SELECT i, cy*8 + cx AS bit,
        |  ((2*cx)*7 + (2*cy)*13 + (i//3)*31) % 200
        |   + CASE WHEN i%3 = 2 AND cx = 1 AND cy = 1 THEN 40 ELSE 0 END AS gray
        | FROM range(48) t(i), range(8) a(cx), range(8) c(cy)),
        |m AS (SELECT i, SUM(gray)//64 AS mean FROM cells GROUP BY 1),
        |h AS (SELECT c.i,
        |  CAST(SUM(CASE WHEN gray > mean AND bit < 32
        |    THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS lo,
        |  CAST(SUM(CASE WHEN gray > mean AND bit >= 32
        |    THEN (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END) AS BIGINT) AS hi
        | FROM cells c JOIN m USING (i) GROUP BY 1)
        |SELECT printf('11:img%08d:p_%d.png', a.i, a.i) AS a_id,
        | printf('11:img%08d:p_%d.png', b.i, b.i) AS b_id,
        | CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.i < b.i
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "mm_audio_goertzel" -> {
      // CLOSED-FORM Goertzel replay: for integer coefficients the
      // recurrence kernel u[m] = c*u[m-1] - u[m-2] is PERIODIC
      // (c=1: 1,1,0,-1,-1,0; c=0: 1,0,-1,0; c=-1: 1,-1,0), so
      // s[n] = sum_j x[j]*u[(n-j) mod P] — an independent derivation
      // of the exact integers the Spark recurrence produces
      def wexpr(c: Int, m: String): String = c match {
        case 1 => s"CASE ($m) % 6 WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END"
        case 0 => s"CASE ($m) % 4 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END"
        case _ => s"CASE ($m) % 3 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END"
      }
      def sExpr(c: Int, last: Int) =
        s"CAST(list_sum(list_transform(range(${last + 1}), " +
          s"j -> sl[j + 1] * (${wexpr(c, s"$last - j")}))) AS BIGINT)"
      def branch(c: Int) =
        s"""SELECT i, fi, CAST($c AS INTEGER) AS coef,
           |  ${sExpr(c, 59)} AS s1, ${sExpr(c, 58)} AS s2 FROM w""".stripMargin
      s"""WITH s AS (
         | SELECT i, list_transform(range(240), k ->
         |   CAST(CASE i % 3
         |     WHEN 0 THEN CASE WHEN k % 6 < 3 THEN 800 ELSE -800 END
         |     WHEN 1 THEN CASE WHEN k % 4 < 2 THEN 800 ELSE -800 END
         |     ELSE CASE WHEN k % 3 = 0 THEN 800 ELSE -400 END END
         |    + (k * 5 + i) % 7 - 3 AS BIGINT)) AS xs
         | FROM range(48) t(i)),
         |w AS (SELECT i, fi, list_slice(xs, fi*60 + 1, fi*60 + 60) AS sl
         | FROM s, range(4) f(fi)),
         |g AS (${branch(1)} UNION ALL ${branch(0)} UNION ALL ${branch(-1)})
         |SELECT printf('ag%08d', i) AS doc_id, printf('g_%d.wav', i) AS media_ref,
         | CAST(fi AS INTEGER) AS frame_idx, coef, s1, s2,
         | CAST(CAST(s1 AS HUGEINT)*s1 + CAST(s2 AS HUGEINT)*s2
         |      - coef*CAST(s1 AS HUGEINT)*s2 AS BIGINT) AS power
         |FROM g ORDER BY doc_id, frame_idx, coef""".stripMargin
    },

    "mm_frame_sample" ->
      // stub rows: fixed 32-byte chunks, frame_ms = -1. BMFF rows:
      // the fixture's mdat payload starts at 212 (Mp4Demux
      // .mdatPayloadStart(6)); sample sizes cycle 20/24/28, so the
      // sampled offsets are 212 / 212+44 / 212+92; 25 fps -> 40ms
      """SELECT * FROM (
        |SELECT printf('doc%08d', i // 2) AS doc_id,
        | printf('m_%d_%d.bin', i // 2, i % 2) AS media_ref,
        | CAST(f AS INTEGER) AS frame_idx,
        | md5(substr(repeat(md5(CAST(i AS VARCHAR)), 4), f*32 + 1, 32)) AS frame_md5,
        | CAST(f*32 AS BIGINT) AS frame_off,
        | CAST(-1 AS BIGINT) AS frame_ms
        |FROM range(200) t(i), (VALUES (0), (2)) u(f)
        |UNION ALL
        |SELECT printf('vdoc%08d', i), printf('v_%d.mp4', i),
        | CAST(f AS INTEGER),
        | md5(substr(md5(CAST(i AS VARCHAR) || ':' || CAST(f AS VARCHAR)),
        |            1, 20 + 4*(f%3))),
        | CAST(212 + CASE f WHEN 0 THEN 0 WHEN 2 THEN 44 ELSE 92 END AS BIGINT),
        | CAST(40*f AS BIGINT)
        |FROM range(50) t(i), (VALUES (0), (2), (4)) u(f)
        |) ORDER BY doc_id, media_ref, frame_idx""".stripMargin,

    "text_langid" -> {
      s"""WITH ${simhashCte("documents")},
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
         |sc AS (SELECT doc_id, text,
         |  len(list_filter(toks, x -> x IN ('the','a','of','is'))) AS s_en,
         |  len(list_filter(toks, x -> x IN ('el','la','de','es'))) AS s_es,
         |  len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS s_de
         | FROM t)
         |SELECT sc.doc_id,
         | CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 THEN 'unknown'
         |      WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
         |      WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS lang_pred,
         | md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp,
         | shx.sh AS simhash
         |FROM sc JOIN shx ON sc.doc_id = shx.doc_id ORDER BY sc.doc_id""".stripMargin
    })
}
