package graft.queries

import graft.expressions.Hash64

/** DuckDB replay of the Hash64 MinHash/SimHash family — turns the four
  * remaining hash-dependent rows-only entries (d2, d3, d15, d23) into
  * fully hash-checked oracles, the d6/d13/d29 idiom taken to its
  * conclusion: the oracle re-derives every signature bit-for-bit, so
  * the candidate sets (and similarity values) must match exactly.
  *
  * The kernels (fnv1a over UTF-8 bytes, splitmix64 mixing — Hash64) are
  * deterministic constants of the operator; DuckDB replays them with
  * HUGEINT arithmetic mod 2^64:
  *  - fnv1a: a `list_reduce` over hex-decoded bytes. The FNV prime is
  *    2^40-ish, so `h * prime` stays under 2^104 — a direct HUGEINT
  *    multiply then `% 2^64` is exact.
  *  - splitmix64: its two multipliers are ~2^63.6, so a direct product
  *    can overflow HUGEINT (2^127). Each multiply is decomposed into
  *    32-bit halves: (a*C) mod 2^64 = lo(a)·lo(C) + ((lo(a)·hi(C) +
  *    hi(a)·lo(C)) mod 2^32)·2^32 (mod 2^64) — every term < 2^64.
  *    The 6 dataflow steps run as chained CTE stages (columnar, no
  *    lambda-expression blowup).
  *  - Spark's minima comparison is SIGNED Long `<`, so the replay maps
  *    each hash to its signed value before `min()` and back to the
  *    unsigned bit pattern for the band-key fold.
  *  - The 128 seed constants `mix(0x5eed5eed + i)` and the per-band
  *    accumulator seeds `mix(b)` are rendered as literal arrays from
  *    Hash64 itself — one source of truth with the Spark expressions
  *    ([[graft.expressions.MinHashBands]], [[graft.expressions.MinHashSig]],
  *    [[graft.expressions.SimHash64]]).
  *
  * Validated bit-for-bit against a Python mod-2^64 reference and the
  * Spark outputs at sf0.01 before being wired into the gate.
  */
private[queries] object ReplaySql {

  private val M64 = "18446744073709551616::HUGEINT" // 2^64
  private def u(x: Long): String = java.lang.Long.toUnsignedString(x)

  /** (a * c) mod 2^64 with a < 2^64 in column/expression `a`, constant c —
    * 32-bit-half decomposition, every intermediate < 2^64 (HUGEINT-safe). */
  private def mulMod(a: String, c: Long): String = {
    val cl = u(c & 0xffffffffL)
    val ch = u(c >>> 32)
    s"""((($a) % 4294967296::HUGEINT) * $cl::HUGEINT
       | + (((($a) % 4294967296::HUGEINT) * $ch::HUGEINT
       |   + (($a) // 4294967296::HUGEINT) * $cl::HUGEINT) % 4294967296::HUGEINT)
       | * 4294967296::HUGEINT) % $M64""".stripMargin
  }

  /** splitmix64 as six chained CTE stages: reads column `xCol` of CTE
    * `src`, emits CTEs `${p}1..${p}6`; `${p}6` carries result column
    * `out` (unsigned HUGEINT in [0, 2^64)). 2^30/2^27/2^31 shifts are
    * HUGEINT floor-divides. */
  private def mixChain(src: String, xCol: String, out: String, p: String): String =
    s"""${p}1 AS (SELECT *, (($xCol) + ${u(-7046029254386353131L)}::HUGEINT) % $M64 AS ${p}_a FROM $src),
       |${p}2 AS (SELECT *, xor(${p}_a, ${p}_a // 1073741824::HUGEINT) AS ${p}_b FROM ${p}1),
       |${p}3 AS (SELECT *, ${mulMod(p + "_b", 0xbf58476d1ce4e5b9L)} AS ${p}_c FROM ${p}2),
       |${p}4 AS (SELECT *, xor(${p}_c, ${p}_c // 134217728::HUGEINT) AS ${p}_d FROM ${p}3),
       |${p}5 AS (SELECT *, ${mulMod(p + "_d", 0x94d049bb133111ebL)} AS ${p}_e FROM ${p}4),
       |${p}6 AS (SELECT *, xor(${p}_e, ${p}_e // 2147483648::HUGEINT) AS $out FROM ${p}5)""".stripMargin

  /** fnv1a(tok) over UTF-8 bytes: hex-decode `encode(tok)` two nibbles
    * at a time (strpos('123456789ABCDEF', c) maps '0'→0 … 'F'→15 via
    * the not-found-→0 convention), fold with xor-then-multiply. */
  private val fnvExpr: String =
    """list_reduce(list_prepend(14695981039346656037::HUGEINT,
      |  list_transform(range(octet_length(encode(tok))),
      |    i -> CAST(strpos('123456789ABCDEF', substr(hex(encode(tok)), CAST(2*i+1 AS INTEGER), 1)) * 16
      |            + strpos('123456789ABCDEF', substr(hex(encode(tok)), CAST(2*i+2 AS INTEGER), 1)) AS HUGEINT))),
      |  (hh, bb) -> (xor(hh, bb) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

  private def hugeArr(xs: Seq[Long]): String =
    xs.map(x => s"${u(x)}::HUGEINT").mkString("[", ", ", "]")

  /** The MinHashBands/MinHashSig seed schedule, verbatim. */
  private val seedArr: String =
    hugeArr(Array.tabulate(128)(i => Hash64.mix(0x5eed5eedL + i)).toSeq)

  private def mixInitArr(bands: Int): String =
    hugeArr((0 until bands).map(b => Hash64.mix(b.toLong)))

  /** Sequential band-key fold (acc = mix(acc ^ minima[b·R + r]) for
    * r = 0..R-1) as R chained mix stages over (id, band, ms[R]) rows in
    * CTE `binit` (column a0 = mix(band)); final CTE `g${R-1}6` carries
    * column `a$R` = the band key. */
  private def bandFold(rowsPerBand: Int): String = {
    val sb = new StringBuilder
    var prevAcc = "a0"
    var src = "binit"
    for (r <- 0 until rowsPerBand) {
      sb.append(s"fx$r AS (SELECT *, xor($prevAcc, ms[${r + 1}]) AS x$r FROM $src),\n")
      sb.append(mixChain(s"fx$r", s"x$r", s"a${r + 1}", s"g$r")).append(",\n")
      prevAcc = s"a${r + 1}"
      src = s"g${r}6"
    }
    sb.toString.stripSuffix(",\n")
  }

  private val toSigned =
    s"CASE WHEN hv >= 9223372036854775808::HUGEINT THEN hv - $M64 ELSE hv END"

  /** Shared: words per doc — must mirror Pipeline.withWords
    * (split(trim(text), "\\s+"); Java and RE2 \s agree on ASCII). */
  private val wordsCte: String =
    """docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |         FROM documents)""".stripMargin

  /** d2: full MinHash replay — 3-word shingles (mirrors
    * Pipeline.withShingles), 128 hashes per distinct shingle, signed
    * minima per (doc, k), 32 band keys (4-row fold), band-bucket
    * self-join. Candidate pairs must match Spark's exactly. */
  val d2: String =
    s"""WITH $wordsCte,
       |sh0 AS (SELECT doc_id, CASE WHEN len(words) >= 3
       |          THEN list_distinct(list_transform(range(len(words) - 2),
       |                 i -> words[CAST(i+1 AS INTEGER)] || ' ' || words[CAST(i+2 AS INTEGER)] || ' ' || words[CAST(i+3 AS INTEGER)]))
       |          ELSE [array_to_string(words, ' ')] END AS shingles FROM docs),
       |sh AS (SELECT doc_id, unnest(shingles) AS tok FROM sh0),
       |toks AS (SELECT DISTINCT tok FROM sh),
       |fb AS (SELECT tok, $fnvExpr AS fbase FROM toks),
       |sk AS (SELECT tok, CAST(s.k AS INTEGER) AS k,
       |              xor(fbase, ($seedArr)[CAST(s.k AS INTEGER) + 1]) AS x0
       |       FROM fb, range(128) s(k)),
       |${mixChain("sk", "x0", "hv", "h")},
       |hs AS (SELECT tok, k, $toSigned AS sm FROM h6),
       |mins AS (SELECT sh.doc_id, hs.k, min(hs.sm) AS smin
       |         FROM sh JOIN hs USING (tok) GROUP BY sh.doc_id, hs.k),
       |minsu AS (SELECT doc_id, k, CASE WHEN smin < 0 THEN smin + $M64 ELSE smin END AS mu
       |          FROM mins),
       |bm AS (SELECT doc_id, CAST(k // 4 AS INTEGER) AS band, list(mu ORDER BY k) AS ms
       |       FROM minsu GROUP BY doc_id, band),
       |binit AS (SELECT doc_id, band, ms, (${mixInitArr(32)})[band + 1] AS a0 FROM bm),
       |${bandFold(4)},
       |keys AS (SELECT doc_id, band, a4 AS bkey FROM g36),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM keys a JOIN keys b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin

  /** d3: full SimHash replay — mix(fnv1a(word)) per distinct word,
    * bit-majority vote weighted by occurrence count, 16-bit chunk
    * banding, exact hamming (bit_count over signed-bits xor) ≤ 3. */
  /** SimHash signature replay prefix: CTE chain ending in
    * sig(doc_id, sig) — the unsigned 64-bit SimHash64 signature as
    * HUGEINT, bit-for-bit Spark's. Shared by d3 (chunk banding +
    * hamming pairs) and d57 (identical-signature cluster
    * representative selection). */
  private val simhashSigPrefix: String = {
    val pow2 = hugeArr((0 until 64).map(k => 1L << k)) // k=63 renders unsigned 2^63
    s"""WITH $wordsCte,
       |wc AS (SELECT doc_id, tok, count(*) AS cnt
       |       FROM (SELECT doc_id, unnest(words) AS tok FROM docs) GROUP BY doc_id, tok),
       |toks AS (SELECT DISTINCT tok FROM wc),
       |fb AS (SELECT tok, $fnvExpr AS x0 FROM toks),
       |${mixChain("fb", "x0", "hv", "h")},
       |th AS (SELECT tok, hv FROM h6),
       |bits AS (SELECT wc.doc_id, CAST(b.k AS INTEGER) AS k,
       |                sum(CASE WHEN (th.hv // ($pow2)[CAST(b.k AS INTEGER) + 1]) % 2 = 1
       |                         THEN wc.cnt ELSE -wc.cnt END) AS vote
       |         FROM wc JOIN th USING (tok), range(64) b(k)
       |         GROUP BY wc.doc_id, b.k),
       |sig AS (SELECT doc_id,
       |               sum(CASE WHEN vote > 0 THEN ($pow2)[k + 1] ELSE 0::HUGEINT END) AS sig
       |        FROM bits GROUP BY doc_id)""".stripMargin
  }

  val d3: String = {
    val chpow = hugeArr((0 until 4).map(c => 1L << (16 * c)))
    val sigSigned =
      s"CASE WHEN %s.sig >= 9223372036854775808::HUGEINT THEN %s.sig - $M64 ELSE %s.sig END"
    s"""$simhashSigPrefix,
       |ch AS (SELECT doc_id, sig, CAST(c.c AS INTEGER) AS c,
       |              (sig // ($chpow)[CAST(c.c AS INTEGER) + 1]) % 65536::HUGEINT AS cv
       |       FROM sig, range(4) c(c)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM ch a JOIN ch b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id),
       |sp AS (SELECT cand.doc_a, cand.doc_b,
       |              CAST(bit_count(xor(
       |                CAST(${sigSigned.format("sa", "sa", "sa")} AS BIGINT),
       |                CAST(${sigSigned.format("sb", "sb", "sb")} AS BIGINT))) AS INT) AS hamming
       |       FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
       |                 JOIN sig sb ON sb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, hamming FROM sp WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** d57: full SimHash replay + d8's exact quality formula, with the
    * Spark side's map-combinable max_by argmax re-expressed as an
    * explicit window rank (quality DESC, doc_id ASC) — the argmax
    * contract is hash-checked end to end. */
  val d57: String =
    s"""$simhashSigPrefix,
       |q0 AS (SELECT d.doc_id, d.text, CAST(length(d.text) AS INT) AS n_chars_m,
       |              docs.words
       |       FROM documents d JOIN docs USING (doc_id)),
       |q1 AS (SELECT doc_id, n_chars_m, CAST(len(words) AS INT) AS n_tokens,
       |              CASE WHEN n_chars_m > 0 THEN round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / n_chars_m, 4) ELSE 0.0 END AS punct_ratio,
       |              round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 4) AS uniq_ratio
       |       FROM q0),
       |q AS (SELECT doc_id,
       |             round(0.4 * uniq_ratio + 0.3 * (1.0 - punct_ratio) +
       |                   0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0), 4) AS quality_score
       |      FROM q1),
       |cl AS (SELECT sig.doc_id, sig.sig AS s64, q.quality_score
       |       FROM sig JOIN q USING (doc_id)),
       |grp AS (SELECT s64, count(*) AS cluster_size,
       |               min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |        FROM cl GROUP BY s64 HAVING count(*) >= 2),
       |rnk AS (SELECT cl.s64, cl.doc_id, cl.quality_score,
       |               row_number() OVER (PARTITION BY cl.s64
       |                 ORDER BY cl.quality_score DESC, cl.doc_id) AS rn
       |        FROM cl JOIN grp USING (s64))
       |SELECT g.min_doc, g.max_doc, g.cluster_size,
       |       g.cluster_size - 1 AS n_dropped,
       |       r.doc_id AS rep_doc_id, r.quality_score AS rep_quality
       |FROM grp g JOIN rnk r ON r.s64 = g.s64 AND r.rn = 1
       |ORDER BY g.min_doc""".stripMargin

  /** Shared d15/d23 prefix: exact-collapse to word-set group reps
    * (mirrors Pipeline.collapsedWordSets: sorted-distinct words, md5
    * gid), 128 signed minima per rep, 16 band keys (8-row fold),
    * SAME-band bucket self-join → candidate rep pairs, plus the
    * gid→rep membership map. Candidacy is pinned to same-band
    * collisions — the structural LSH definition and exactly the
    * engine's `bpos = bpos2` conjunct (r14) — so a pair whose only
    * key equality is a cross-band 64-bit hash collision (~1e-6) is a
    * non-candidate in BOTH engines by construction, not a latent
    * divergence (r14 advisor). d85's `keys` consumers keep their
    * deliberate any-band semantics (its engine side measures the
    * any-band shared-key rate; the band column is simply unused). */
  private val mhG: String =
    s"""$wordsCte,
       |ws AS (SELECT doc_id, list_sort(list_distinct(words)) AS wset FROM docs),
       |g AS (SELECT doc_id, wset, md5(array_to_string(wset, ' ')) AS gid FROM ws)""".stripMargin

  private val mhReps: String =
    s"""reps AS (SELECT gid, min(doc_id) AS rep_id, arg_min(wset, doc_id) AS wset
       |         FROM g GROUP BY gid)""".stripMargin

  private val mhMins: String =
    s"""rt AS (SELECT rep_id, unnest(wset) AS tok FROM reps),
       |toks AS (SELECT DISTINCT tok FROM rt),
       |fb AS (SELECT tok, $fnvExpr AS fbase FROM toks),
       |sk AS (SELECT tok, CAST(s.k AS INTEGER) AS k,
       |              xor(fbase, ($seedArr)[CAST(s.k AS INTEGER) + 1]) AS x0
       |       FROM fb, range(128) s(k)),
       |${mixChain("sk", "x0", "hv", "h")},
       |hs AS (SELECT tok, k, $toSigned AS sm FROM h6),
       |mins AS (SELECT rt.rep_id, hs.k, min(hs.sm) AS smin
       |         FROM rt JOIN hs USING (tok) GROUP BY rt.rep_id, hs.k)""".stripMargin

  private val mhKeys: String =
    s"""minsu AS (SELECT rep_id, k, CASE WHEN smin < 0 THEN smin + $M64 ELSE smin END AS mu
       |          FROM mins),
       |bm AS (SELECT rep_id, CAST(k // 8 AS INTEGER) AS band, list(mu ORDER BY k) AS ms
       |       FROM minsu GROUP BY rep_id, band),
       |binit AS (SELECT rep_id, band, ms, (${mixInitArr(16)})[band + 1] AS a0 FROM bm),
       |${bandFold(8)},
       |keys AS (SELECT rep_id, band, a8 AS bkey FROM g76)""".stripMargin

  private val mhCandrep: String =
    s"""candrep AS (SELECT DISTINCT a.rep_id AS r_a, b.rep_id AS r_b
       |            FROM keys a JOIN keys b ON a.band = b.band
       |                                   AND a.bkey = b.bkey AND a.rep_id < b.rep_id)""".stripMargin

  private val mhM: String =
    "m AS (SELECT g.doc_id, reps.rep_id FROM g JOIN reps USING (gid))"

  private val repsPrefix: String =
    s"""WITH $mhG,
       |$mhReps,
       |$mhMins,
       |$mhKeys,
       |$mhCandrep,
       |$mhM""".stripMargin

  /** d15: exact Jaccard (d4's rounding contract) over candidate rep
    * pairs ≥ 0.8, expanded through group membership, plus within-group
    * pairs at 1.0. Spark's wn-ratio prefilter is intentionally NOT
    * replayed: it only removes pairs with J < 0.8 (proved in the query
    * comment), so the post-filter output is identical without it. */
  val d15: String =
    s"""$repsPrefix,
       |rp AS (SELECT c.r_a, c.r_b,
       |              round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE) /
       |                    len(list_distinct(wa.wset || wb.wset)), 4) AS jaccard
       |       FROM candrep c JOIN reps wa ON wa.rep_id = c.r_a
       |                      JOIN reps wb ON wb.rep_id = c.r_b),
       |rpf AS (SELECT * FROM rp WHERE jaccard >= 0.8),
       |crosspairs AS (SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |                      greatest(ma.doc_id, mb.doc_id) AS doc_b, rpf.jaccard
       |               FROM rpf JOIN m ma ON ma.rep_id = rpf.r_a
       |                        JOIN m mb ON mb.rep_id = rpf.r_b),
       |within AS (SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b, 1.0::DOUBLE AS jaccard
       |           FROM m ma JOIN m mb ON ma.rep_id = mb.rep_id AND ma.doc_id < mb.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM crosspairs
       |UNION ALL
       |SELECT doc_a, doc_b, jaccard FROM within""".stripMargin

  /** d85: the recall-eval harness replays the SAME rep/signature/band
    * prefix as d15 (shared `repsPrefix` — the scheme under test cannot
    * drift from the scheme being measured), then evaluates candidacy
    * (shared band key, or same rep) over the deterministic adjacent-id
    * pair set and buckets by the all-integer exact-Jaccard decile. */
  val d85: String =
    s"""$repsPrefix,
       |sidew AS (SELECT g.doc_id, m.rep_id, g.wset FROM g JOIN m USING (doc_id)),
       |pr AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |              a.rep_id AS ra, b.rep_id AS rb,
       |              CAST(len(list_intersect(a.wset, b.wset)) AS BIGINT) AS inter,
       |              CAST(len(a.wset) + len(b.wset) AS BIGINT) AS szsum
       |       FROM sidew a JOIN sidew b
       |         ON b.doc_id = a.doc_id + 1 OR b.doc_id = a.doc_id + 2),
       |prd AS (SELECT da, db, ra, rb,
       |               CAST(least(9, inter * 10 // (szsum - inter)) AS INTEGER)
       |                 AS decile
       |        FROM pr),
       |sharedk AS (SELECT DISTINCT p.da, p.db
       |            FROM prd p JOIN keys ka ON ka.rep_id = p.ra
       |                       JOIN keys kb ON kb.rep_id = p.rb
       |                                   AND kb.bkey = ka.bkey
       |            WHERE p.ra <> p.rb),
       |fin AS (SELECT p.decile, (p.ra = p.rb OR s.da IS NOT NULL) AS cand
       |        FROM prd p LEFT JOIN sharedk s ON s.da = p.da AND s.db = p.db)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |       CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) * 1000 // count(*)
       |         AS BIGINT) AS recall_pm
       |FROM fin GROUP BY decile ORDER BY decile""".stripMargin

  /** d11: the multimodal stub decode is pure byte arithmetic over the
    * UTF-8 payload (`(a*131 + byte) % 1e9+7` fold, head byte, length),
    * so DuckDB replays it exactly from the same hex-decoded bytes —
    * closing the last rows-only entry. The REAL decoder slot keeps the
    * same contract: any deterministic feature extractor is replayable
    * by construction, and a non-deterministic one would downgrade this
    * entry back to rows-only, never silently diverge. BIGINT is safe:
    * the accumulator stays < 1e9+7, so a*131 + 255 < 2^37. */
  val d11: String =
    """WITH b AS (
      |  SELECT doc_id, lang, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS nb
      |  FROM documents)
      |SELECT doc_id, lang, CAST(nb AS BIGINT) AS n_bytes,
      |  CAST(CASE WHEN nb = 0 THEN -1
      |       ELSE strpos('123456789ABCDEF', substr(hx, 1, 1)) * 16
      |          + strpos('123456789ABCDEF', substr(hx, 2, 1)) END AS BIGINT) AS head_byte,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(range(nb),
      |      i -> CAST(strpos('123456789ABCDEF', substr(hx, CAST(2*i+1 AS INTEGER), 1)) * 16
      |              + strpos('123456789ABCDEF', substr(hx, CAST(2*i+2 AS INTEGER), 1)) AS BIGINT))),
      |    (a, bb) -> (a * 131 + bb) % 1000000007) AS checksum
      |FROM b ORDER BY doc_id""".stripMargin

  /** d23: signature-estimated Jaccard — fraction of agreeing signature
    * components ≥ 0.7, expanded like d15. Round 13: the Spark side
    * ships components TRUNCATED to their low 16 bits (packed 4 per
    * long — a quarter of the band join's original transport), so the
    * replay compares the same truncation — `(smin % 2^16 + 2^16) %
    * 2^16` normalizes DuckDB's sign-following modulo onto the unsigned
    * low 16-bit word (two minima agree on their low 16 bits iff these
    * normalized values are equal; Spark's packed-field equality tests
    * the same bits). */
  private val mhMm: String =
    s"""mm AS (SELECT c.r_a, c.r_b,
       |              round(sum(CASE WHEN (a.smin % 65536 + 65536) % 65536
       |                              = (b.smin % 65536 + 65536) % 65536
       |                         THEN 1 ELSE 0 END) / 128.0, 4) AS est_jaccard
       |       FROM candrep c JOIN mins a ON a.rep_id = c.r_a
       |                      JOIN mins b ON b.rep_id = c.r_b AND b.k = a.k
       |       GROUP BY c.r_a, c.r_b)""".stripMargin

  val d23: String =
    s"""$repsPrefix,
       |$mhMm,
       |mmf AS (SELECT * FROM mm WHERE est_jaccard >= 0.7),
       |crosspairs AS (SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |                      greatest(ma.doc_id, mb.doc_id) AS doc_b, mmf.est_jaccard
       |               FROM mmf JOIN m ma ON ma.rep_id = mmf.r_a
       |                        JOIN m mb ON mb.rep_id = mmf.r_b),
       |within AS (SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b, 1.0::DOUBLE AS est_jaccard
       |           FROM m ma JOIN m mb ON ma.rep_id = mb.rep_id AND ma.doc_id < mb.doc_id)
       |SELECT doc_a, doc_b, est_jaccard FROM crosspairs
       |UNION ALL
       |SELECT doc_a, doc_b, est_jaccard FROM within""".stripMargin
}
