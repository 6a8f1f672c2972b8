"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-dup clustering pipeline on
sf0.001. ``queries()``/``oracle_sql()`` expose the SQL-expressible
operators from SURVEY.md §2 as (Spark, DuckDB) pairs built from one
logical definition via a tiny dialect layer, so the two sides cannot
drift: identical aliases, identical arithmetic (md5-hex -> int64 hashing,
mod-(2^31-1) MinHash permutations, integer-safe rolling fingerprints).

Non-SQL-expressible ops (the full LSH/CC pipeline, SimHash pandas UDFs,
substring pass) are exposed as rows-only queries (no oracle entry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

P31 = 2147483647  # 2^31 - 1, MinHash permutation modulus
# two fixed permutation parameter pairs (any constants < P31 work; these
# are arbitrary but shared verbatim by both dialects)
MH_A = (1103515245, 1566083941)
MH_B = (12345, 654321)

STOP = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "et", "de", "un", "une", "est", "que", "pour", "dans"),
    "es": ("el", "la", "y", "de", "un", "una", "es", "que", "por", "en"),
    "de": ("der", "die", "das", "und", "ein", "ist", "zu", "von", "mit", "nicht"),
}


# --------------------------------------------------------------------
# dialect fragments: d == "s" (Spark SQL) | "d" (DuckDB)
# --------------------------------------------------------------------
def _norm(d: str, col: str) -> str:
    """lowercase + collapse whitespace + trim (normalization key)."""
    if d == "s":
        return f"trim(regexp_replace(lower({col}), '\\\\s+', ' '))"
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def _toks(d: str, col: str) -> str:
    if d == "s":
        return f"split(trim({col}), '\\\\s+')"
    return f"string_split_regex(trim({col}), '\\s+')"


def _len(d: str, x: str) -> str:
    return f"size({x})" if d == "s" else f"len({x})"


def _h64(d: str, x: str) -> str:
    """Deterministic 60-bit integer hash of a string, identical in both
    engines: first 15 hex chars of md5, as int64."""
    if d == "s":
        return f"cast(conv(substr(md5({x}),1,15),16,10) as bigint)"
    return f"('0x'||substr(md5({x}),1,15))::BIGINT"


def _transform(d: str, arr: str, lam: str) -> str:
    return f"transform({arr}, {lam})" if d == "s" else f"list_transform({arr}, {lam})"


def _filter(d: str, arr: str, lam: str) -> str:
    return f"filter({arr}, {lam})" if d == "s" else f"list_filter({arr}, {lam})"


def _contains(d: str, words: tuple[str, ...], x: str) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    if d == "s":
        return f"array_contains(array({lst}), {x})"
    return f"list_contains([{lst}], {x})"


def _fold_bigint(d: str, arr: str, lam: str) -> str:
    """fold(arr, 0::bigint, lam) — aggregate vs list_reduce w/ prepended init."""
    if d == "s":
        return f"aggregate({arr}, cast(0 as bigint), {lam})"
    return f"list_reduce(list_prepend(0::BIGINT, {arr}), {lam})"


def _slice_join(d: str, arr: str, i: str, k: int) -> str:
    """k-element slice starting at 1-based position i, joined by spaces."""
    if d == "s":
        return f"array_join(slice({arr}, {i}, {k}), ' ')"
    return f"array_to_string({arr}[{i}:{i}+{k - 1}], ' ')"


def _seq(d: str, lo: str, hi: str) -> str:
    return f"sequence({lo}, {hi})" if d == "s" else f"generate_series({lo}, {hi})"


def _distinct(d: str, arr: str) -> str:
    return f"array_distinct({arr})" if d == "s" else f"list_distinct({arr})"


def _intersect(d: str, a: str, b: str) -> str:
    return f"array_intersect({a}, {b})" if d == "s" else f"list_intersect({a}, {b})"


def _re_strip(d: str, col: str, pat: str) -> str:
    """remove every match of pat."""
    if d == "s":
        return f"regexp_replace({col}, '{pat}', '')"
    return f"regexp_replace({col}, '{pat}', '', 'g')"


# --------------------------------------------------------------------
# query definitions: name -> fn(dialect) -> SQL
# --------------------------------------------------------------------
def q_exact_dedup_families(d: str) -> str:
    """G4/G7 (reference lib/optical_duplicates.py grouping +
    lib/umi_data.py:121-135 frequency fold): exact families over the
    normalized text, family size = UMI count analog."""
    fam = _h64(d, _norm(d, "text"))
    return f"""
SELECT {fam} AS fam, count(*) AS n_docs,
       min(doc_id) AS min_doc_id, max(n_chars) AS max_chars
FROM documents GROUP BY 1"""


def q_exact_dedup_mark(d: str) -> str:
    """E6/O3 survivor window (reference lib/umi_data.py:137-146): best
    (n_chars desc, doc_id asc) per exact family survives."""
    fam = _h64(d, _norm(d, "text"))
    return f"""
SELECT doc_id,
       row_number() OVER (PARTITION BY {fam} ORDER BY n_chars DESC, doc_id ASC) > 1
         AS is_exact_duplicate
FROM documents"""


def q_family_count_histogram(d: str) -> str:
    """G5 count-of-counts (reference lib/weighted_average2.py:8-10)."""
    fam = _h64(d, _norm(d, "text"))
    return f"""
SELECT n_docs AS count_value, count(*) AS n_keys FROM (
  SELECT {fam} AS fam, count(*) AS n_docs FROM documents GROUP BY 1
) t GROUP BY n_docs"""


def q_token_stats(d: str) -> str:
    """P4/P6 projections: token counts per doc."""
    toks = _toks(d, "text")
    return f"""
SELECT doc_id, {_len(d, toks)} AS n_tokens,
       {_len(d, _distinct(d, toks))} AS n_distinct_tokens,
       length(text) AS n_chars_obs
FROM documents"""


def q_quality_scores(d: str) -> str:
    """P12 quality projection: punctuation + stopword ratios, composite
    score (graft of the per-read quality sum, lib/parse_sam.py:36-37)."""
    toks = _toks(d, "lower(text)")
    n_sw = _len(d, _filter(d, toks, f"t -> {_contains(d, STOP['en'], 't')}"))
    punct_pat = "[\\\\sa-zA-Z0-9]" if d == "s" else "[\\sa-zA-Z0-9]"
    npunct = f"length({_re_strip(d, 'text', punct_pat)})"
    return f"""
SELECT doc_id,
  round(CASE WHEN length(text)=0 THEN cast(0.0 AS double)
        ELSE cast({npunct} AS double) / length(text) END, 6)  AS punct_ratio,
  round(CASE WHEN {_len(d, toks)}=0 THEN cast(0.0 AS double)
        ELSE cast({n_sw} AS double) / {_len(d, toks)} END, 6) AS stopword_ratio
FROM documents"""


def q_lang_id(d: str) -> str:
    """Language-ID heuristic: argmax of stopword hits with deterministic
    alphabetic tie-break, aggregated to a histogram."""
    toks = _toks(d, "lower(text)")
    hits = {
        lang: _len(d, _filter(d, toks, f"t -> {_contains(d, words, 't')}"))
        for lang, words in STOP.items()
    }
    case = f"""CASE
  WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
  WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
  WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
  WHEN h_fr > 0 THEN 'fr'
  ELSE 'und' END"""
    return f"""
SELECT guess_lang, count(*) AS n_docs FROM (
  SELECT {case} AS guess_lang FROM (
    SELECT {hits['de']} AS h_de, {hits['en']} AS h_en,
           {hits['es']} AS h_es, {hits['fr']} AS h_fr
    FROM documents) h
) g GROUP BY guess_lang"""


def q_rolling_fingerprint(d: str) -> str:
    """Document fingerprint: polynomial rolling hash over tokens in
    mod-(2^31-1) arithmetic (integer-exact in both engines)."""
    toks = _toks(d, "text")
    th = _h64(d, "t")
    hashed = _transform(d, toks, f"t -> {th} % {P31}")
    fold = _fold_bigint(d, hashed, f"(acc, h) -> (acc * 31 + h) % {P31}")
    return f"SELECT doc_id, {fold} AS fingerprint FROM documents"


def q_minhash_sketch(d: str) -> str:
    """MinHash over 5-token shingles, two permutations — the signature
    kernel expressed relationally (SURVEY.md §2 UMI analog)."""
    toks = _toks(d, _norm(d, "text"))
    n = _len(d, "tk")
    starts = _seq(d, "1", f"greatest({n} - 4, 1)")
    sh = _slice_join(d, "tk", "i", 5)
    mk = _transform(d, starts, f"i -> {sh}")
    amin = "array_min" if d == "s" else "list_min"
    exprs = []
    for j, (a, b) in enumerate(zip(MH_A, MH_B)):
        hv = _h64(d, "s")
        perm = _transform(d, "shingles", f"s -> ({a} * ({hv} % {P31}) + {b}) % {P31}")
        exprs.append(f"{amin}({perm}) AS minh_{j}")
    return f"""
SELECT doc_id, {', '.join(exprs)} FROM (
  SELECT doc_id, {mk} AS shingles FROM (
    SELECT doc_id, {toks} AS tk FROM documents) a
) b"""


def q_ngram_jaccard_pairs(d: str) -> str:
    """Near-dup by token-set Jaccard within source groups (bucketed
    self-join — the J-series equi-join surface)."""
    return f"""
SELECT a_id, b_id, round(cast(ji AS double) / (na + nb - ji), 4) AS jaccard FROM (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         {_len(d, _intersect(d, 'a.tset', 'b.tset'))} AS ji,
         {_len(d, 'a.tset')} AS na, {_len(d, 'b.tset')} AS nb
  FROM (SELECT doc_id, source, {_distinct(d, _toks(d, 'text'))} AS tset FROM documents) a
  JOIN (SELECT doc_id, source, {_distinct(d, _toks(d, 'text'))} AS tset FROM documents) b
    ON a.source = b.source AND a.doc_id < b.doc_id
) p WHERE cast(ji AS double) / (na + nb - ji) >= cast(0.5 AS double)"""


def q_cosine_pairs(d: str) -> str:
    """Embedding near-dup: pairs with cosine >= 0.95 within label groups
    (brute-force verification kernel of the ANN path)."""
    if d == "s":
        dot = ("aggregate(zip_with(a.v, b.v, (x, y) -> cast(x as double) * cast(y as double)),"
               " cast(0.0 as double), (acc, z) -> acc + z)")
        nrm = lambda s: (f"sqrt(aggregate(zip_with({s}.v, {s}.v, (x, y) -> cast(x as double) * cast(y as double)),"
                         " cast(0.0 as double), (acc, z) -> acc + z))")
        vcol = "embedding"
    else:
        dot = "list_dot_product(a.v, b.v)"
        nrm = lambda s: f"sqrt(list_dot_product({s}.v, {s}.v))"
        vcol = "embedding::DOUBLE[]"
    return f"""
SELECT a_id, b_id, round(cosine, 3) AS cos_sim FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         {dot} / ({nrm('a')} * {nrm('b')}) AS cosine
  FROM (SELECT vec_id, label, {vcol} AS v FROM embeddings) a
  JOIN (SELECT vec_id, label, {vcol} AS v FROM embeddings) b
    ON a.label = b.label AND a.vec_id < b.vec_id
) p WHERE cosine >= 0.95"""


def q_doc_embedding_join(d: str) -> str:
    """S8/J2 paired co-scan: 1:1 join of two tables on the shared key with
    per-group match accounting."""
    return """
SELECT d.lang, count(*) AS n_matched, count(DISTINCT e.label) AS n_labels
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.lang"""


def q_category_counts(d: str) -> str:
    """G8 category counters: outcome partition by lang (usable ==
    representative + duplicate, reference markdup_sam.py:255)."""
    fam = _h64(d, _norm(d, "text"))
    return f"""
SELECT lang,
       cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS bigint) AS n_representative,
       cast(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS bigint) AS n_duplicate
FROM (
  SELECT lang, row_number() OVER (PARTITION BY {fam}
         ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents) t
GROUP BY lang"""


def q_source_lang_entropy(d: str) -> str:
    """G9 Shannon entropy (reference lib/library_stats.py:6-17) of the
    lang distribution per source."""
    return """
SELECT source,
       round(-sum(CASE WHEN p > 0 THEN p * ln(p) ELSE 0.0 END), 6) AS entropy
FROM (
  SELECT source, cast(count(*) AS double) / sum(count(*)) OVER (PARTITION BY source) AS p
  FROM documents GROUP BY source, lang) t
GROUP BY source"""


def q_library_counts(d: str) -> str:
    """G10 inputs: distinct families vs total usable docs (the two
    aggregates feeding the Lander-Waterman estimate)."""
    fam = _h64(d, _norm(d, "text"))
    return f"""
SELECT count(DISTINCT {fam}) AS distinct_families, count(*) AS total_docs,
       cast(sum(CASE WHEN length(text) >= 8 THEN 1 ELSE 0 END) AS bigint) AS usable_docs
FROM documents"""


def q_position_histogram(d: str) -> str:
    """G6 per-position token histogram (reference extract_umi.py:21,29):
    frequency of each token at each of the first 8 positions."""
    toks = _toks(d, "text")
    if d == "s":
        return f"""
SELECT pos, token, count(*) AS n FROM (
  SELECT posexplode(slice({toks}, 1, 8)) AS (pos, token) FROM documents
) t GROUP BY pos, token"""
    return f"""
SELECT i - 1 AS pos, tk[i] AS token, count(*) AS n
FROM (SELECT {toks} AS tk FROM documents) t,
     UNNEST(generate_series(1, least(len(tk), 8))) AS u(i)
GROUP BY 1, 2"""


def q_first_token_frequency(d: str) -> str:
    """UMI-prefix frequency analog (reference extract_umi.py stderr
    matrix): distribution of the leading token."""
    toks = _toks(d, "text")
    first = f"element_at({toks}, 1)" if d == "s" else f"({toks})[1]"
    return f"SELECT {first} AS first_token, count(*) AS n FROM documents GROUP BY 1"


def _shingled_docs(d: str) -> str:
    """Shared subquery: doc_id + distinct 5-token shingle hash list."""
    toks = _toks(d, _norm(d, "text"))
    n = _len(d, "tk")
    starts = _seq(d, "1", f"greatest({n} - 4, 1)")
    sh = _slice_join(d, "tk", "i", 5)
    mk = _transform(d, starts, f"i -> {sh}")
    hv = _h64(d, "s")
    hashed = _distinct(d, _transform(d, mk, f"s -> {hv} % {P31}"))
    return f"""(SELECT doc_id, {hashed} AS sh
  FROM (SELECT doc_id, {toks} AS tk FROM documents) tq)"""


def _lsh_band_fragments(d: str) -> tuple[str, str, str]:
    """Shared LSH text: (mins, bands, band_joins) SQL fragments — 8 fixed
    permutations, 4 bands x 2 rows. Used verbatim by q_minhash_lsh_pairs
    and q_lsh_recall_report so the two queries cannot drift."""
    amin = "array_min" if d == "s" else "list_min"
    A = (1103515245, 1566083941, 747796405, 22695477, 69069, 1103515245 + 2, 48271, 16807)
    B = (12345, 654321, 2891336453, 1, 362437, 54321, 7, 11)
    mins = ", ".join(
        f"{amin}({_transform(d, 'sh', f's -> ({a} * s + {b}) % {P31}')}) AS m{j}"
        for j, (a, b) in enumerate(zip(A, B))
    )
    strtype = "string" if d == "s" else "varchar"
    bands = ", ".join(
        f"concat(cast(m{2 * t} AS {strtype}), '_', cast(m{2 * t + 1} AS {strtype})) AS band{t}"
        for t in range(4)
    )
    # Union of per-band EQUI-joins (shuffle-on-band-key, the scalable LSH
    # shape) instead of a single OR-of-band-equalities join, which has no
    # equi-key and degenerates to a nested-loop O(n^2) compare.
    band_joins = " UNION ALL ".join(
        f"""SELECT a.doc_id AS a_id, b.doc_id AS b_id
    FROM sigs a JOIN sigs b ON a.band{t} = b.band{t} AND a.doc_id < b.doc_id"""
        for t in range(4)
    )
    return mins, bands, band_joins


def q_minhash_lsh_pairs(d: str) -> str:
    """The MinHash+LSH dedup path expressed relationally: 8 permutations,
    4 bands x 2 rows; docs sharing any band bucket become candidates;
    candidates verified by true shingle-set Jaccard >= 0.4. The SQL mirror
    of operators/lsh.py + the Jaccard verification of directional.py."""
    mins, bands, band_joins = _lsh_band_fragments(d)
    inter = _len(d, _intersect(d, "sa.sh", "sb.sh"))
    na, nb = _len(d, "sa.sh"), _len(d, "sb.sh")
    return f"""
WITH shingled AS (SELECT doc_id, sh FROM {_shingled_docs(d)} s0),
sigs AS (SELECT doc_id, {bands} FROM (SELECT doc_id, {mins} FROM shingled) s1),
cand AS (SELECT DISTINCT a_id, b_id FROM ({band_joins}) u)
SELECT a_id, b_id, round(jac, 4) AS jaccard FROM (
  SELECT c.a_id, c.b_id,
         cast({inter} AS double) / ({na} + {nb} - {inter}) AS jac
  FROM cand c
  JOIN shingled sa ON sa.doc_id = c.a_id
  JOIN shingled sb ON sb.doc_id = c.b_id
) p WHERE jac >= cast(0.4 AS double)"""


def q_simhash16(d: str) -> str:
    """16-bit SimHash fingerprint in pure SQL: per bit, majority vote of
    the shingle-hash bits (the relational mirror of the 64-bit pandas-UDF
    kernel in functions/hashing.py)."""
    shift = (lambda j: f"(shiftright(s, {j}) & 1)") if d == "s" else (
        lambda j: f"((s >> {j}) & 1)"
    )
    ns = _len(d, "sh")
    bits = " + ".join(
        f"(CASE WHEN 2 * {_len(d, _filter(d, 'sh', f's -> {shift(j)} = 1'))} > {ns} THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    return f"""
SELECT doc_id, {bits} AS simhash16 FROM {_shingled_docs(d)} s0"""


def q_cosine_topk(d: str) -> str:
    """Deterministic brute-force cosine top-3 per query vector (first 20
    vec_ids), rank on (rounded cosine desc, neighbor asc)."""
    if d == "s":
        dot = ("aggregate(zip_with(a.v, b.v, (x, y) -> cast(x as double) * cast(y as double)),"
               " cast(0.0 as double), (acc, z) -> acc + z)")
        nrm = lambda s: (f"sqrt(aggregate(zip_with({s}.v, {s}.v, (x, y) -> cast(x as double) * cast(y as double)),"
                         " cast(0.0 as double), (acc, z) -> acc + z))")
        vcol = "embedding"
    else:
        dot = "list_dot_product(a.v, b.v)"
        nrm = lambda s: f"sqrt(list_dot_product({s}.v, {s}.v))"
        vcol = "embedding::DOUBLE[]"
    return f"""
SELECT query_id, neighbor_id, cos_sim, rnk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
  FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round({dot} / ({nrm('a')} * {nrm('b')}), 6) AS cos_sim
    FROM (SELECT vec_id, {vcol} AS v FROM embeddings WHERE vec_id < 20) a
    JOIN (SELECT vec_id, {vcol} AS v FROM embeddings) b ON a.vec_id != b.vec_id
  ) s
) r WHERE rnk <= 3"""


def q_simhash64(d: str) -> str:
    """60-bit SimHash relationally (extends the simhash16 technique to the
    full width of the 60-bit dialect hash): per bit, majority vote of the
    shingle-hash bits. Oracle-backed mirror of the 64-bit pandas-UDF
    kernel's logic (functions/hashing.py) — same majority rule, dialect
    hash instead of xxhash64."""
    toks = _toks(d, _norm(d, "text"))
    n = _len(d, "tk")
    starts = _seq(d, "1", f"greatest({n} - 4, 1)")
    sh = _slice_join(d, "tk", "i", 5)
    mk = _transform(d, starts, f"i -> {sh}")
    hv = _h64(d, "s")
    hashed = _distinct(d, _transform(d, mk, f"s -> {hv}"))
    shift = (lambda j: f"(shiftright(s, {j}) & 1)") if d == "s" else (
        lambda j: f"((s >> {j}) & 1)"
    )
    ns = _len(d, "sh")
    bits = " + ".join(
        f"(CASE WHEN 2 * {_len(d, _filter(d, 'sh', f's -> {shift(j)} = 1'))} > {ns} THEN cast({1 << j} as bigint) ELSE cast(0 as bigint) END)"
        for j in range(60)
    )
    return f"""
SELECT doc_id, {bits} AS simhash60 FROM (
  SELECT doc_id, {hashed} AS sh
  FROM (SELECT doc_id, {toks} AS tk FROM documents) tq) s0"""


def q_substring_overlap_pairs(d: str) -> str:
    """The substring ("suffix-array") pass expressed relationally with the
    EXACT winnowing anchor rule of operators/suffix.py: token hashes ->
    forward sliding min (fwd[j] = min(th[j..j+s-1])) -> anchor(i) iff
    max(fwd[i-s+1..i]) == th[i] (i is the argmin of some covering window)
    -> hash the T-token window at each anchor -> pairs sharing any window
    hash. Dialect h64 replaces xxhash64; T/s mirror DedupConfig defaults
    (substring_window_tokens=24, substring_anchor_stride=8)."""
    # Window-function formulation over exploded (doc_id, pos, token_hash)
    # rows: fwd[j] = min(th) over [j, j+s-1]; anchor(i) iff
    # max(fwd) over [i-s+1, i] == th[i]. No nested array lambdas — a
    # lambda-array formulation re-inlines each derived array into every
    # per-position lambda under CollapseProject (O(n^3+) hash work/doc).
    T, s = 24, 8
    toks = _toks(d, _norm(d, "text"))
    win_hash = _h64(d, _slice_join(d, "t.tk", "a.pos", T))
    # dialect-shared token hash: the engines' xxhash64/hash differ, so use
    # the shared md5-based h64 for cross-engine value parity
    th_expr = _h64(d, "token")
    if d == "s":
        posex = ("SELECT doc_id, p.pos + 1 AS pos, "
                 f"{th_expr} AS th, n_tok "
                 "FROM toked LATERAL VIEW posexplode(tk) p AS pos, token")
    else:
        posex = (f"SELECT doc_id, i AS pos, {_h64(d, 'tk[i]')} AS th, n_tok "
                 "FROM toked, UNNEST(generate_series(1, len(tk))) AS u(i)")
    return f"""
WITH toked AS (SELECT doc_id, {toks} AS tk, {_len(d, toks)} AS n_tok FROM documents),
posed AS ({posex}),
fwds AS (SELECT doc_id, pos, th, n_tok,
         min(th) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {s - 1} FOLLOWING) AS fwd
         FROM posed),
covs AS (SELECT doc_id, pos, th, n_tok,
         max(fwd) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {s - 1} PRECEDING AND CURRENT ROW) AS cov
         FROM fwds),
anch AS (SELECT doc_id, pos FROM covs WHERE cov = th AND pos <= n_tok - {T - 1}),
wins AS (SELECT a.doc_id, {win_hash} AS w
         FROM anch a JOIN toked t ON a.doc_id = t.doc_id)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM wins a JOIN wins b ON a.w = b.w AND a.doc_id < b.doc_id"""


def q_ann_cosine_topk(d: str) -> str:
    """Deterministic brute-force cosine top-5 for the first 10 vec_ids —
    the DuckDB oracle for the ANN verification path. The SPARK side of
    this query is the real operator (operators/similarity.brute_force_topk
    — zip_with/aggregate JVM expressions + top-k), not this SQL; see
    _ann_topk below. Both round to 6dp before ranking and break ties on
    neighbor_id asc."""
    if d == "s":
        dot = ("aggregate(zip_with(a.v, b.v, (x, y) -> cast(x as double) * cast(y as double)),"
               " cast(0.0 as double), (acc, z) -> acc + z)")
        nrm = lambda t: (f"sqrt(aggregate(zip_with({t}.v, {t}.v, (x, y) -> cast(x as double) * cast(y as double)),"
                         " cast(0.0 as double), (acc, z) -> acc + z))")
        vcol = "embedding"
        rankq = "rank"
    else:
        dot = "list_dot_product(a.v, b.v)"
        nrm = lambda t: f"sqrt(list_dot_product({t}.v, {t}.v))"
        vcol = "embedding::DOUBLE[]"
        rankq = '"rank"'
    return f"""
SELECT query_id, neighbor_id, cos_sim, {rankq} FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS {rankq}
  FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round({dot} / ({nrm('a')} * {nrm('b')}), 6) AS cos_sim
    FROM (SELECT vec_id, {vcol} AS v FROM embeddings WHERE vec_id < 10) a
    JOIN (SELECT vec_id, {vcol} AS v FROM embeddings) b ON a.vec_id != b.vec_id
  ) s
) r WHERE {rankq} <= 5"""


def q_ann_ivf_topk(d: str) -> str:
    """DuckDB oracle for the IVF (inverted-file) ANN scale path
    (operators/similarity.ivf_topk): centroids = vectors of the 8 smallest
    vec_ids; every corpus vector is assigned to its nearest centroid
    (round(sim, 9) DESC, cell ASC — the exact tie rule of the Spark cell
    UDF); queries (vec_id < 10) probe their 2 nearest cells and re-rank
    exactly within them on round(cos, 6) DESC, neighbor ASC."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    dot = "list_dot_product(a.v, b.v)"
    nrm = lambda t: f"sqrt(list_dot_product({t}.v, {t}.v))"
    return """
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 8
),
simsc AS (
  SELECT e.vec_id, c.cid,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 9) AS s
  FROM embeddings e CROSS JOIN cents c
),
rankedc AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
  FROM simsc
),
assigned AS (SELECT vec_id, cid FROM rankedc WHERE rn = 1),
probes AS (SELECT vec_id, cid FROM rankedc WHERE rn <= 2 AND vec_id < 10),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM probes q JOIN assigned c ON q.cid = c.cid AND q.vec_id != c.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round({dot} / ({na} * {nb}), 6) AS cos_sim
  FROM cand
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) a
    ON a.vec_id = query_id
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b
    ON b.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, "rank" FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS "rank"
  FROM scored
) r WHERE "rank" <= 5""".format(dot=dot, na=nrm("a"), nb=nrm("b"))


# --------------------------------------------------------------------
# END-TO-END flagship oracle: the entire dedup pipeline in one DuckDB
# query. Feasible because the engine's token hash IS the dialect h64
# (md5 60-bit prefix, functions/hashing.py::_token_hash64) — every
# derived fingerprint is integer arithmetic DuckDB reproduces exactly:
#   * shingle hash: FNV-style uint64 polynomial over token hashes
#   * MinHash: sig_i = min over shingles of (a_i * x mod 2^64) as int64
#     (32-bit limb decomposition keeps the multiply inside HUGEINT)
#   * SimHash: per-bit strict majority over distinct shingle hashes
#   * substring pass: true winnowing (fwd-min / cov-max windows) +
#     24-token window polynomial
#   * LSH buckets: band slice equality (the engine buckets by
#     xxhash64(band_id, slice); equal slices <=> equal buckets modulo
#     a 2^-64 collision, documented)
#   * gate: substring proof OR hamming(simhash)<=3 OR >=32/64 equal
#     signature positions; directional count[a] >= 2*count[b]-1
#   * clusters: WITH RECURSIVE reachability; label = best (count desc,
#     fam_tb asc) seed that reaches the node (the CC fixpoint theorem,
#     operators/cc.py)
# Cluster ids are PORTABLE: both sides emit the seed family's fam_tb
# (min doc_id), never an engine-internal hash.
# Assumes no LSH bucket exceeds max_bucket_families=512 at oracle scale
# (verified: overflow_buckets == 0 at sf0.001/sf0.01) — the engine's
# star+chain fallback for hotter buckets is not mirrored.
# --------------------------------------------------------------------
_U64 = "18446744073709551616"   # 2^64
_I64 = "9223372036854775808"    # 2^63
_FNV_BASIS_SQL = "1469598103934665603"
_POLY_SQL = "1099511628211"


def _mh_consts(num_perm: int = 64, seed: int = 42) -> list[int]:
    """The engine's MinHash multipliers (hashing.py::minhash_params),
    as unsigned 64-bit ints for SQL limb arithmetic."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = (rng.randint(-(2**62), 2**62, size=num_perm).astype(np.int64) << 1) | 1
    return [int(v) % (1 << 64) for v in a]


def _mul64_signed(x: str, ua: int) -> str:
    """SQL: (ua * x) mod 2^64 as SIGNED int64, x an unsigned-64 HUGEINT
    expr. 32-bit limbs keep every intermediate < 2^65; the +2^63 fold
    maps to signed without a CASE."""
    al, ah = ua & 0xFFFFFFFF, ua >> 32
    return (
        f"((({al}::HUGEINT * ({x} % 4294967296) + "
        f"(({al} * ({x} // 4294967296) + {ah} * ({x} % 4294967296)) % 4294967296)"
        f" * 4294967296 + {_I64}) % {_U64}) - {_I64})::BIGINT"
    )


def _poly_sql(lst: str) -> str:
    """SQL: FNV-style polynomial fold of a HUGEINT list, mod 2^64."""
    return (
        f"list_reduce(list_prepend({_FNV_BASIS_SQL}::HUGEINT, {lst}), "
        f"(acc, h) -> (acc * {_POLY_SQL} + h) % {_U64})"
    )


def _quality_sql(text: str = "text") -> str:
    """DuckDB mirror of functions/text.py::quality_score — identical
    IEEE double arithmetic in identical order (ranks must agree)."""
    toks = f"string_split_regex(trim(lower({text})), '\\s+')"
    n_sw = (
        f"len(list_filter({toks}, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOP["en"]) + "], t)))"
    )
    nt = f"len({toks})"
    punct = (
        f"(CASE WHEN length({text}) = 0 THEN 0.0 ELSE "
        f"length(regexp_replace({text}, '[\\sa-zA-Z0-9]', '', 'g'))::DOUBLE"
        f" / length({text})::DOUBLE END)"
    )
    sw = (
        f"(CASE WHEN {nt} = 0 THEN 0.0 ELSE {n_sw}::DOUBLE / {nt}::DOUBLE END)"
    )
    return (
        f"(0.4 * least(length({text})::DOUBLE / 500.0, 1.0)"
        f" + 0.3 * (1.0 - {punct}) + 0.3 * least({sw} * 5.0, 1.0))"
    )


def _fingerprint_ctes() -> str:
    """Shared CTE chain documents -> (docs, fams, thd, shs, shing, sigs,
    sims): families + shingle hashes + MinHash/SimHash, mirroring the
    Arrow kernel (functions/hashing.py) value-for-value."""
    A = _mh_consts()
    mins = ",\n    ".join(
        f"min({_mul64_signed('x', a)}) AS m{i}" for i, a in enumerate(A)
    )
    bits = ",\n    ".join(
        f"sum(((x >> {j}) & 1)::BIGINT) AS b{j}" for j in range(64)
    )
    sim_lo = " + ".join(
        f"(CASE WHEN 2 * b{j} > nsh THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(63)
    )
    sim = (
        f"({sim_lo} + CASE WHEN 2 * b63 > nsh THEN (-{_I64})::HUGEINT"
        f" ELSE 0::HUGEINT END)::BIGINT"
    )
    mcols = ", ".join(f"m{i}" for i in range(64))
    return f"""docs AS (
  -- url mirrors synth.documents_to_pages: doc://{{source}}/{{doc_id}}
  SELECT doc_id, 'doc://' || source || '/' || doc_id::VARCHAR AS url, text,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
         {_quality_sql()} AS quality
  FROM documents WHERE text IS NOT NULL AND length(text) >= 8
),
fams AS (
  SELECT norm, count(*) AS fam_count, min(doc_id) AS fam FROM docs GROUP BY norm
),
thd AS (
  SELECT fam, fam_count,
         list_transform(string_split(norm, ' '),
           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT::HUGEINT) AS th,
         len(string_split(norm, ' ')) AS n
  FROM fams
),
shs AS (
  SELECT fam, fam_count,
         list_distinct(list_transform(generate_series(1, greatest(n - 4, 1)),
           i -> {_poly_sql('th[i:i+4]')})) AS sh
  FROM thd
),
shing AS (SELECT fam, unnest(sh) AS x FROM shs),
sigs AS (
  SELECT fam,
    {mins},
    {bits},
    count(*) AS nsh
  FROM shing GROUP BY fam
),
sims AS (SELECT fam, {mcols}, {sim} AS simhash FROM sigs)"""


def q_flagship_pipeline(d: str) -> str:
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the pipeline")
    # mirrors DedupConfig's 32 bands x 2 rows (retuned round 5 — see
    # config.py; equal 2-row slices <=> equal engine buckets modulo the
    # documented 2^-64 xxhash collision)
    band_joins = "\n  UNION ALL\n  ".join(
        "SELECT a.fam AS src, b.fam AS dst, FALSE AS is_sub FROM sims a "
        "JOIN sims b ON "
        + " AND ".join(f"a.m{2 * t + r} = b.m{2 * t + r}" for r in range(2))
        + " AND a.fam < b.fam"
        for t in range(32)
    )
    n_eq = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(64)
    )
    return f"""
WITH RECURSIVE
{_fingerprint_ctes()},
posed AS (
  SELECT fam, i AS pos, th[i] AS t_h, n
  FROM thd, UNNEST(generate_series(1, n)) AS u(i)
),
fwds AS (
  SELECT fam, pos, t_h, n,
         min(t_h) OVER (PARTITION BY fam ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fwd
  FROM posed
),
covs AS (
  SELECT fam, pos, t_h, n,
         max(fwd) OVER (PARTITION BY fam ORDER BY pos
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
  FROM fwds
),
anch AS (SELECT fam, pos FROM covs WHERE cov = t_h AND pos <= n - 23),
wins AS (
  SELECT DISTINCT a.fam, {_poly_sql('t.th[a.pos:a.pos+23]')} AS w
  FROM anch a JOIN thd t ON a.fam = t.fam
),
cand AS (
  {band_joins}
  UNION ALL
  SELECT a.fam AS src, b.fam AS dst, TRUE AS is_sub
  FROM wins a JOIN wins b ON a.w = b.w AND a.fam < b.fam
),
pairs AS (SELECT src, dst, max(is_sub) AS is_sub FROM cand GROUP BY src, dst),
gated AS (
  SELECT p.src, p.dst, fa.fam_count AS ca, fb.fam_count AS cb
  FROM pairs p
  JOIN sims sa ON sa.fam = p.src JOIN sims sb ON sb.fam = p.dst
  JOIN fams fa ON fa.fam = p.src JOIN fams fb ON fb.fam = p.dst
  WHERE p.is_sub
     OR bit_count(xor(sa.simhash, sb.simhash)) <= 3
     OR ({n_eq}) >= 32
),
edges AS (
  SELECT src, dst FROM gated WHERE ca >= 2 * cb - 1
  UNION
  SELECT dst AS src, src AS dst FROM gated WHERE cb >= 2 * ca - 1
),
reach AS (
  SELECT fam AS node, fam_count AS scount, fam AS sfam FROM fams
  UNION
  SELECT e.dst, r.scount, r.sfam FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (
  SELECT node, sfam AS cluster_key FROM (
    SELECT node, sfam,
           row_number() OVER (PARTITION BY node
                              ORDER BY scount DESC, sfam ASC) AS rn
    FROM reach) t
  WHERE rn = 1
),
dfam AS (
  SELECT d.doc_id, d.url, d.quality, f.fam
  FROM docs d JOIN fams f ON d.norm = f.norm
),
dlab AS (
  SELECT d.*, l.cluster_key,
         row_number() OVER (PARTITION BY d.fam
                            ORDER BY d.quality DESC, d.doc_id ASC) AS exact_rn,
         row_number() OVER (PARTITION BY l.cluster_key
                            ORDER BY d.quality DESC, d.doc_id ASC) AS clus_rn
  FROM dfam d JOIN lab l ON l.node = d.fam
)
SELECT doc_id, url, cluster_key AS cluster_id,
       exact_rn > 1 AS is_exact_duplicate,
       clus_rn > 1 AS is_duplicate,
       max(CASE WHEN clus_rn = 1 THEN url END)
         OVER (PARTITION BY cluster_key) AS rep_url
FROM dlab"""


def q_simhash_fingerprints(d: str) -> str:
    """Per-DOC 64-bit SimHash of the Arrow kernel, exactly — the former
    rows-only entry, now oracle-backed because the kernel's token hash is
    the dialect h64 (see q_flagship_pipeline header)."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the kernel UDF")
    bits = ",\n    ".join(
        f"sum(((x >> {j}) & 1)::BIGINT) AS b{j}" for j in range(64)
    )
    sim_lo = " + ".join(
        f"(CASE WHEN 2 * b{j} > nsh THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(63)
    )
    sim = (
        f"({sim_lo} + CASE WHEN 2 * b63 > nsh THEN (-{_I64})::HUGEINT"
        f" ELSE 0::HUGEINT END)::BIGINT"
    )
    return f"""
WITH ddocs AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
dthd AS (
  SELECT doc_id,
         list_transform(string_split(norm, ' '),
           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT::HUGEINT) AS th,
         len(string_split(norm, ' ')) AS n
  FROM ddocs
),
dshs AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(n - 4, 1)),
           i -> {_poly_sql('th[i:i+4]')})) AS sh
  FROM dthd
),
dsh AS (SELECT doc_id, unnest(sh) AS x FROM dshs),
dsig AS (
  SELECT doc_id,
    {bits},
    count(*) AS nsh
  FROM dsh GROUP BY doc_id
)
SELECT doc_id, {sim} AS simhash, 64::INT AS sig_len FROM dsig"""


def q_paired_umi_counts(d: str) -> str:
    """DuckDB oracle for the paired combined-fingerprint flow (reference
    extract_umi_paired.py:30-46 + lib/parse_fastq.py:112-144): mate1 key =
    first 2 tokens of the normalized text, mate2 key = 'lang source';
    combined = key1 + '+' + key2; output = combined-key frequency table.
    The Spark side runs the real operator (operators/paired.py)."""
    toks = _toks(d, _norm(d, "text"))
    k1 = _slice_join(d, f"({toks})", "1", 2)
    return f"""
SELECT pair_key, count(*) AS n_pairs FROM (
  SELECT concat({k1}, '+', concat(lang, ' ', source)) AS pair_key FROM documents
) t GROUP BY pair_key"""


def q_source_parse(d: str) -> str:
    """P11 analog (reference lib/parse_sam.py:41-43 get_coords): parse the
    structured source id into its numeric coordinate and aggregate."""
    return """
SELECT cast(regexp_extract(source, '([0-9]+)$', 1) AS bigint) AS src_num,
       count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS total_chars
FROM documents GROUP BY 1"""


def q_doc_repetition_scores(d: str) -> str:
    """Intra-document repetition quality signal (Gopher-style repeated
    n-gram filter): per doc, total vs distinct 3-token grams and the
    duplicated-gram ratio — the per-doc 'how boilerplate-y is this text'
    score a filtering pipeline thresholds on."""
    toks = _toks(d, _norm(d, "text"))
    n = _len(d, "tk")
    starts = _seq(d, "1", f"greatest({n} - 2, 1)")
    sj = _slice_join(d, "tk", "i", 3)
    grams = _transform(d, starts, f"i -> {sj}")
    ng = _len(d, "grams")
    nd = _len(d, _distinct(d, "grams"))
    return f"""
SELECT doc_id, {ng} AS n_grams, {nd} AS n_distinct_grams,
       round(1.0 - cast({nd} AS double) / {ng}, 6) AS dup_gram_ratio
FROM (SELECT doc_id, {grams} AS grams FROM (
  SELECT doc_id, {toks} AS tk FROM documents) a) b"""


def q_hot_ngram_boilerplate(d: str) -> str:
    """Corpus-wide boilerplate detection: 3-token grams occurring in >= 5
    distinct documents (per-doc grams deduped before the count, so n_docs
    is a document frequency). The explode is the one dialect split:
    LATERAL VIEW vs unnest."""
    toks = _toks(d, _norm(d, "text"))
    n = _len(d, "tk")
    starts = _seq(d, "1", f"greatest({n} - 2, 1)")
    sj = _slice_join(d, "tk", "i", 3)
    grams = _distinct(d, _transform(d, starts, f"i -> {sj}"))
    inner = (
        f"SELECT doc_id, {grams} AS grams FROM ("
        f"SELECT doc_id, {toks} AS tk FROM documents) a"
    )
    if d == "s":
        ex = f"SELECT gram FROM ({inner}) b LATERAL VIEW explode(grams) t AS gram"
    else:
        ex = f"SELECT unnest(grams) AS gram FROM ({inner}) b"
    return f"""
SELECT gram, count(*) AS n_docs FROM ({ex}) g
GROUP BY gram HAVING count(*) >= 5"""


def q_boilerplate_density(d: str) -> str:
    """Per-document boilerplate density (RefinedWeb/C4-style line-dedup
    graft, gram-level because the synthetic corpus has no newlines): the
    fraction of a doc's distinct 3-grams whose corpus document-frequency
    is >= 5. Composes hot_ngram_boilerplate with a join-back so each doc
    reports (n_grams, n_hot, density)."""
    toks = _toks(d, _norm(d, "text"))
    n = _len(d, "tk")
    starts = _seq(d, "1", f"greatest({n} - 2, 1)")
    sj = _slice_join(d, "tk", "i", 3)
    grams = _distinct(d, _transform(d, starts, f"i -> {sj}"))
    inner = (
        f"SELECT doc_id, {grams} AS grams FROM ("
        f"SELECT doc_id, {toks} AS tk FROM documents) a"
    )
    if d == "s":
        ex = f"SELECT doc_id, gram FROM ({inner}) b LATERAL VIEW explode(grams) t AS gram"
    else:
        ex = f"SELECT doc_id, unnest(grams) AS gram FROM ({inner}) b"
    return f"""
WITH dg AS ({ex}),
hot AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= 5),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
hits AS (
  SELECT dg.doc_id, count(*) AS n_hot
  FROM dg JOIN hot ON dg.gram = hot.gram GROUP BY dg.doc_id)
SELECT p.doc_id, p.n_grams,
       cast(coalesce(h.n_hot, 0) AS bigint) AS n_hot,
       round(cast(coalesce(h.n_hot, 0) AS double) / p.n_grams, 6) AS density
FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id"""


def q_token_count_quantiles(d: str) -> str:
    """Corpus token-count distribution: exact linear-interpolation
    quantiles of per-doc token counts (the sizing stat a training-data
    pipeline reads before choosing shard/window limits). Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the interpolation
    rule; both sides round to 6."""
    toks = _toks(d, "text")
    n = _len(d, toks)
    if d == "s":
        qs = "percentile(n_tokens, array(0.5, 0.9, 0.99)) AS q"
        q50, q90, q99 = "q[0]", "q[1]", "q[2]"
    else:
        qs = "[quantile_cont(n_tokens, 0.5), quantile_cont(n_tokens, 0.9), quantile_cont(n_tokens, 0.99)] AS q"
        q50, q90, q99 = "q[1]", "q[2]", "q[3]"
    return f"""
SELECT count(*) AS n_docs,
       cast(min(n_tokens) AS bigint) AS min_tokens,
       cast(max(n_tokens) AS bigint) AS max_tokens,
       round(avg(n_tokens), 6) AS mean_tokens, p.p50, p.p90, p.p99
FROM (SELECT {n} AS n_tokens FROM documents) t,
     (SELECT round({q50}, 6) AS p50, round({q90}, 6) AS p90, round({q99}, 6) AS p99
      FROM (SELECT {qs} FROM (SELECT {n} AS n_tokens FROM documents) i) q) p
GROUP BY p.p50, p.p90, p.p99"""


def q_lsh_recall_report(d: str) -> str:
    """The north-rule metric ON the board: dup-pair recall of the LSH
    candidate-generation stage against blocked ground truth. Truth =
    same-source pairs with shingle-set Jaccard >= 0.4 (exact, the
    verification predicate); candidates = the 4x2 MinHash band buckets
    of q_minhash_lsh_pairs (shared fragment text). One report row:
    n_true, n_candidates, n_hit, recall."""
    mins, bands, band_joins = _lsh_band_fragments(d)
    inter = _len(d, _intersect(d, "sa.sh", "sb.sh"))
    na, nb = _len(d, "sa.sh"), _len(d, "sb.sh")
    return f"""
WITH shingled AS (SELECT doc_id, sh FROM {_shingled_docs(d)} s0),
sigs AS (SELECT doc_id, {bands} FROM (SELECT doc_id, {mins} FROM shingled) s1),
cand AS (SELECT DISTINCT a_id, b_id FROM ({band_joins}) u),
blocked AS (
  SELECT s.doc_id, dd.source, s.sh
  FROM shingled s JOIN documents dd ON dd.doc_id = s.doc_id),
truth AS (
  SELECT sa.doc_id AS a_id, sb.doc_id AS b_id
  FROM blocked sa JOIN blocked sb
    ON sa.source = sb.source AND sa.doc_id < sb.doc_id
  WHERE cast({inter} AS double) / ({na} + {nb} - {inter}) >= cast(0.4 AS double)),
hit AS (SELECT t.a_id, t.b_id FROM truth t JOIN cand c
        ON t.a_id = c.a_id AND t.b_id = c.b_id)
SELECT (SELECT count(*) FROM truth) AS n_true,
       (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM hit) AS n_hit,
       round(cast((SELECT count(*) FROM hit) AS double) /
             greatest((SELECT count(*) FROM truth), 1), 6) AS recall"""


SQL_QUERIES: dict[str, Callable[[str], str]] = {
    "exact_dedup_families": q_exact_dedup_families,
    "exact_dedup_mark": q_exact_dedup_mark,
    "family_count_histogram": q_family_count_histogram,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "lang_id": q_lang_id,
    "rolling_fingerprint": q_rolling_fingerprint,
    "minhash_sketch": q_minhash_sketch,
    "cosine_pairs": q_cosine_pairs,
    "doc_embedding_join": q_doc_embedding_join,
    "category_counts": q_category_counts,
    "source_lang_entropy": q_source_lang_entropy,
    "library_counts": q_library_counts,
    "position_histogram": q_position_histogram,
    "first_token_frequency": q_first_token_frequency,
    "source_parse": q_source_parse,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash16": q_simhash16,
    "simhash64": q_simhash64,
    "substring_overlap_pairs": q_substring_overlap_pairs,
    "cosine_topk": q_cosine_topk,
    "doc_repetition_scores": q_doc_repetition_scores,
    "hot_ngram_boilerplate": q_hot_ngram_boilerplate,
    "boilerplate_density": q_boilerplate_density,
    "token_count_quantiles": q_token_count_quantiles,
    "lsh_recall_report": q_lsh_recall_report,
}


# --------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: pandas-UDF fingerprints,
# LSH + CC fixpoint, substring pass) — driver records rows-only check
# --------------------------------------------------------------------
def _register(spark: SparkSession, sf_dir: str) -> None:
    # NB (r6): spreading the one-row-group documents scan across task
    # slots here was measured SLOWER for the SQL-view queries (warm A/B:
    # raw 0.34-0.35s vs spread 0.47-0.50s for exact_dedup_mark +
    # minhash_sketch at sf1.0) — their per-row work is too cheap to pay
    # a text shuffle. The spread pays off only where per-row work is
    # heavy (prepare_docs, the set-similarity tokenize); views stay raw.
    for t in TABLES:
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
        except Exception:
            pass


def _run_sql(name: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(SQL_QUERIES[name]("s"))

    return run


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL pipeline; oracle = q_flagship_pipeline (end-to-end DuckDB
    mirror). cluster_id is PORTABLE: the seed family's fam_tb (min doc_id),
    not the engine-internal norm_hash — the one value both engines can
    derive."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.config import DedupConfig
    from umi_dedup_spark.plans.pipeline import DedupPipeline
    from umi_dedup_spark.synth import documents_to_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = documents_to_pages(docs)
    pipe = DedupPipeline(spark, DedupConfig())
    res = pipe.run(pages)
    # oracle validity envelope: the SQL mirror assumes all-pairs buckets
    pipe.assert_no_bucket_overflow()
    seed_map = res.clusters.filter(
        F.col("norm_hash") == F.col("cluster_id")
    ).select("cluster_id", F.col("fam_tb").alias("cluster_key"))
    return (
        res.marked.join(seed_map, "cluster_id")
        .select(
            "doc_id", "url", F.col("cluster_key").alias("cluster_id"),
            "is_exact_duplicate", "is_duplicate", "rep_url",
        )
        # no final orderBy: the driver's hash compare and the local test
        # harness both sort rows themselves — a global sort here is a
        # pure range-exchange tax on the headline bench (VERDICT r3 #1)
    )


def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from umi_dedup_spark.config import DedupConfig
    from umi_dedup_spark.functions.hashing import make_fingerprint_udf
    from umi_dedup_spark.functions.text import normalize_text

    cfg = DedupConfig()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = make_fingerprint_udf(cfg.shingle_k, cfg.num_perm, cfg.seed)
    return docs.select(
        "doc_id",
        fp(normalize_text(F.col("text"))).alias("fp"),
    ).select(
        "doc_id",
        F.col("fp.simhash").alias("simhash"),
        F.size("fp.minhash").alias("sig_len"),
    )


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL similarity operator (not a SQL mirror) on the Spark side;
    its DuckDB oracle is q_ann_cosine_topk. Deterministic query set:
    vec_id < 10."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(queries, emb, k=5)


# every query is oracle-backed as of round 3: the flagship pipeline and
# the 64-bit kernel fingerprints gained end-to-end DuckDB mirrors when
# the kernel token hash became the dialect h64 (q_flagship_pipeline).
ROWS_ONLY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

def _paired_umi_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL paired operator on the Spark side (S8/J2 + combined-key
    extraction); oracle = q_paired_umi_counts."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.functions.text import normalize_text
    from umi_dedup_spark.operators.paired import (
        paired_combined_keys,
        paired_key_counts,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = docs.select("doc_id", normalize_text(F.col("text")).alias("text"))
    m2 = docs.select(
        "doc_id", F.concat_ws(" ", F.col("lang"), F.col("source")).alias("text")
    )
    pairs = paired_combined_keys(
        m1, m2, key_col="doc_id", n_tokens1=2, n_tokens2=2
    )
    return paired_key_counts(pairs)


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL set-similarity join (operators/setsim.py, no quadratic
    per-group self-join); oracle = q_ngram_jaccard_pairs, the quadratic
    all-pairs mirror. The testdata's 31-token vocabulary and small doc
    table select the bitset path: one broadcast join on the source with
    an exact bit_count intersection per pair. A large vocabulary would
    take the prefix-filtered path, identical output by the prefix-filter
    theorem."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.operators.setsim import jaccard_similarity_join
    from umi_dedup_spark.session import spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # spread the RAW rows (r6): the tokenization projection below is the
    # per-row cost of every consumer inside the join operator, and on a
    # one-row-group parquet input it would run on a single core
    docs = spread_small_scan(docs)
    tset = docs.select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")).alias("tset"),
    )
    return jaccard_similarity_join(
        tset, id_col="doc_id", group_col="source", threshold=0.5
    )


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF scale path (operators/similarity.ivf_topk) with explicit
    deterministic centroids so the DuckDB oracle can mirror the cell
    assignment; oracle = q_ann_ivf_topk."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(
        queries, emb, k=5, n_cells=8, nprobe=2, centroid_ids=list(range(8))
    )


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): training
    docs = doc_id % 5 != 0, benchmark = the mod-5 slice; a training doc
    is contaminated when it shares any 8-token gram with the benchmark.
    Oracle = q_decontaminate_ngram."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.operators.decontaminate import ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return ngram_contamination(corpus, bench, k=8)


def q_decontaminate_ngram(d: str) -> str:
    """DuckDB mirror of ngram_contamination: distinct 8-token-gram md5
    hashes per doc, semi-join vs the benchmark slice's gram set, left
    join back so clean docs report 0."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    return r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         ('0x'||substr(md5(array_to_string(tk[i:i+7], ' ')),1,15))::BIGINT AS gh
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 7, 1))) AS t(i)
),
bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 5 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS n FROM grams g JOIN bench USING (gh)
  WHERE g.doc_id % 5 != 0 GROUP BY 1
)
SELECT d.doc_id,
       coalesce(h.n, 0)::BIGINT AS n_shared_grams,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 5 != 0"""


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup (operators/similarity.semdedup_mark)
    with explicit deterministic centroids (the 8 lowest vec_ids) so the
    DuckDB oracle can mirror the cell assignment; oracle =
    q_semdedup_mark."""
    from umi_dedup_spark.operators.similarity import semdedup_mark

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup_mark(
        emb, n_cells=8, threshold=0.35, centroid_ids=list(range(8))
    )


def q_semdedup_mark(d: str) -> str:
    """DuckDB mirror of semdedup_mark: nearest-centroid assignment with
    the cell UDF's exact tie rule (round(sim,9) DESC, cid ASC), then the
    max round-6 cosine to any lower-id cellmate vs threshold 0.35."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    return """
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 8
),
ranked AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 9) DESC,
                                     c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, cid::INTEGER AS cell FROM ranked WHERE rn = 1),
best AS (
  SELECT b.vec_id,
         max(round(list_dot_product(eb.embedding::DOUBLE[], ea.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])) *
              sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))), 6)
         ) AS best_lower_sim
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  GROUP BY 1
)
SELECT s.vec_id, s.cell, b.best_lower_sim,
       coalesce(b.best_lower_sim >= 0.35, false) AS is_semantic_dup
FROM assigned s LEFT JOIN best b USING (vec_id)"""


def _latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot compaction (operators/snapshot.py): one row per
    (user_id, event_type) — the greatest (ts, event_id) — via a single
    max-struct hash aggregation (map-side combine, no window sort).
    The web graft of keep-latest-warc_ts-per-url. Oracle =
    q_latest_snapshot."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.operators.snapshot import latest_snapshot

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = latest_snapshot(
        ev, keys=["user_id", "event_type"], ts_col="ts", tiebreak="event_id"
    )
    return out.select(
        "user_id", "event_type", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.round("value", 6).alias("value_r"), "props",
    )


def q_latest_snapshot(d: str) -> str:
    """DuckDB mirror of latest_snapshot: row_number over (ts DESC,
    event_id DESC) per key — the declarative spec the max-struct
    aggregation implements without a per-group sort."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    return """
SELECT user_id, event_type, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       round(value, 6) AS value_r, props
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1"""


def _nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table relational surface (VERDICT r4 #6): Q5-shaped revenue
    rollup — lineitem ⨝ orders ⨝ customer shuffle on their keys, nation
    and region as explicit broadcast dims (the at-scale shape: facts
    exchange once on join keys, dims ride the broadcast). Revenue terms
    are rounded per-row in DOUBLE (identical IEEE ops in both engines)
    then summed as DECIMAL(18,4) — exact, order-independent, so the
    cross-engine hash cannot drift on float summation order."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    # Per-row rounding replicates DuckDB's round(DOUBLE, 4) bit-for-bit:
    # floor(x*10^4 + 0.5)/10^4 for x >= 0 (all IEEE double ops, identical
    # in both engines), NOT Spark's F.round, which rounds the shortest
    # decimal repr HALF_UP and disagrees with DuckDB on values within an
    # ulp of a .00005 tie (measured: 1383/30000 adversarial near-tie
    # doubles diverge under F.round, 0 under this formula — the
    # CORRECTNESS_r05 nation_revenue hash drift).
    x = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    p = F.lit(10000.0)
    duck_round = F.when(x >= 0, F.floor(x * p + F.lit(0.5)) / p).otherwise(
        -(F.floor(-x * p + F.lit(0.5)) / p)
    )
    rev = duck_round.cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(rev).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_nation_revenue(d: str) -> str:
    """DuckDB mirror of _nation_revenue (same per-row round-then-exact-
    decimal-sum discipline)."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    return """
SELECT n_name, r_name,
       sum(cast(round(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(18,4))) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
GROUP BY n_name, r_name"""


def _order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped existence semi-join: orders in a quarter that have at
    least one lineitem shipped after the order date, counted by priority.
    Spark side is a LEFT SEMI join with a non-equi conjunct — the plan
    stays a hash/SMJ semi on l_orderkey with the date predicate as a
    join condition, never a cartesian."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_order_priority_counts(d: str) -> str:
    """DuckDB mirror of _order_priority_counts (correlated EXISTS)."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    return """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority"""


WA_KEYSPACE = 2**20  # config.DedupConfig.keyspace_size — |alphabet|^L analog


def _survivor_counts(algorithm: str, alias: str):
    """E2/E3 on the board (reference CLI default is weighted_average2,
    ``/root/reference/dedup.py:18``): run the REAL estimator path
    (operators/estimators.survivor_spec + cluster_survivor_counts — histogram
    applyInPandas + apportion + rank join-back) per source-cluster over
    the exact-family size histogram, then report the per-cluster survivor
    total (= clamp(estimate, n_fams, total_docs) by count conservation,
    reference ``lib/markdup_sam.py:159``)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        from umi_dedup_spark.operators.estimators import (
            cluster_survivor_counts,
            survivor_spec,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        fams = (
            docs.select(
                F.expr(_h64("s", "source")).alias("cluster_id"),
                F.expr(_h64("s", _norm("s", "text"))).alias("norm_hash"),
                "doc_id",
            )
            .groupBy("cluster_id", "norm_hash")
            .agg(
                F.count(F.lit(1)).alias("fam_count"),
                F.min("doc_id").alias("fam_tb"),
            )
        )
        keep = cluster_survivor_counts(
            fams, survivor_spec(fams, algorithm, WA_KEYSPACE)
        )
        return keep.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_fams"),
            F.sum("fam_count").alias("total_docs"),
            F.sum("n_keep").alias(alias),
        )

    return run


def _wa_hist_cte(d: str) -> str:
    """Shared oracle CTE: per-source exact-family size histogram +
    per-cluster totals. DuckDB dialect (Spark side is the operator)."""
    fam = _h64(d, _norm(d, "text"))
    src = _h64(d, "source")
    return f"""
WITH fams AS (
  SELECT {src} AS cluster_id, {fam} AS fam, count(*) AS fam_count
  FROM documents GROUP BY 1, 2
),
hist AS (
  SELECT cluster_id, fam_count AS v, count(*)::BIGINT AS f
  FROM fams GROUP BY 1, 2
),
stats AS (
  SELECT cluster_id, sum(f)::BIGINT AS n_fams, sum(v * f)::BIGINT AS total_docs
  FROM hist GROUP BY 1
)"""


def q_wa2_survivor_counts(d: str) -> str:
    """DuckDB mirror of E3 weighted_average2 (reference
    ``lib/weighted_average2.py:7-26``): every count value (including the
    inferred zero class f0 = K - n_obs) votes for truncating all counts at
    (itself + 1); estimate = banker's-round(weighted_sum / K), then the
    [n_fams, total] conservation clamp. The cumulative inner loop is the
    running-sum window; weighted_sum / K is EXACT integer arithmetic
    (K = 2^20, so the engine's float division is exact too), and Python's
    round-half-to-even is spelled out on the integer remainder."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    k = WA_KEYSPACE
    return (
        _wa_hist_cte(d)
        + f""",
hist0 AS (
  SELECT cluster_id, v, f FROM hist
  UNION ALL
  SELECT cluster_id, 0 AS v, ({k} - n_fams) AS f FROM stats
),
cum AS (
  SELECT cluster_id, v, f,
         sum(f) OVER (PARTITION BY cluster_id ORDER BY v) AS cf,
         sum(v * f) OVER (PARTITION BY cluster_id ORDER BY v) AS cvf
  FROM hist0
),
est AS (
  SELECT cluster_id,
         sum(f * (cvf + (v + 1) * ({k} - cf)))::BIGINT AS weighted
  FROM cum GROUP BY 1
)
SELECT s.cluster_id, s.n_fams, s.total_docs,
       least(greatest(
         (weighted // {k}) + CASE WHEN 2 * (weighted % {k}) > {k} THEN 1
                                  WHEN 2 * (weighted % {k}) < {k} THEN 0
                                  ELSE (weighted // {k}) % 2 END,
         s.n_fams), s.total_docs) AS wa2_survivors
FROM est JOIN stats s USING (cluster_id)"""
    )


def q_wa_survivor_counts(d: str) -> str:
    """DuckDB mirror of E2 weighted_average (reference
    ``lib/weighted_average.py:6-15``): estimate = round((c0*n_obs +
    c1*total) / (c0 + c1)) with c0 = unobserved keyspace, c1 = singleton
    families — computed in DOUBLE exactly as the numpy kernel does, with
    Python's round-half-to-even spelled out for the tie case — then the
    conservation clamp."""
    if d != "d":
        raise ValueError("duck dialect only — Spark side is the operator")
    k = WA_KEYSPACE
    return (
        _wa_hist_cte(d)
        + f""",
est AS (
  SELECT s.cluster_id, s.n_fams, s.total_docs,
         ({k} - s.n_fams)::BIGINT AS c0,
         coalesce((SELECT f FROM hist h
                   WHERE h.cluster_id = s.cluster_id AND h.v = 1), 0) AS c1
  FROM stats s
),
x AS (
  SELECT cluster_id, n_fams, total_docs,
         CASE WHEN c0 + c1 = 0 THEN n_fams::DOUBLE
              ELSE (c0 * n_fams + c1 * total_docs)::DOUBLE
                   / (c0 + c1)::DOUBLE END AS xv
  FROM est
)
SELECT cluster_id, n_fams, total_docs,
       least(greatest(
         (CASE WHEN xv - floor(xv) = 0.5
               THEN floor(xv) + (floor(xv)::BIGINT % 2)
               ELSE round(xv) END)::BIGINT,
         n_fams), total_docs) AS wa_survivors
FROM x"""
    )


# Spark side = real operator, oracle = hand-matched DuckDB SQL
OPERATOR_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_cosine_topk": _ann_topk,
    "ann_ivf_topk": _ann_ivf_topk,
    "ngram_jaccard_pairs": _ngram_jaccard,
    "paired_umi_counts": _paired_umi_counts,
    "flagship_dedup_pipeline": _flagship,
    "simhash_fingerprints": _simhash_fingerprints,
    "decontaminate_ngram": _decontaminate,
    "semdedup_mark": _semdedup,
    "latest_snapshot": _latest_snapshot,
    "wa2_survivor_counts": _survivor_counts("weighted_average2", "wa2_survivors"),
    "wa_survivor_counts": _survivor_counts("weighted_average", "wa_survivors"),
    "nation_revenue": _nation_revenue,
    "order_priority_counts": _order_priority_counts,
}
OPERATOR_ORACLES: dict[str, Callable[[str], str]] = {
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "paired_umi_counts": q_paired_umi_counts,
    "flagship_dedup_pipeline": q_flagship_pipeline,
    "simhash_fingerprints": q_simhash_fingerprints,
    "decontaminate_ngram": q_decontaminate_ngram,
    "semdedup_mark": q_semdedup_mark,
    "latest_snapshot": q_latest_snapshot,
    "wa2_survivor_counts": q_wa2_survivor_counts,
    "wa_survivor_counts": q_wa_survivor_counts,
    "nation_revenue": q_nation_revenue,
    "order_priority_counts": q_order_priority_counts,
}


# --------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _run_sql(name) for name in SQL_QUERIES
    }
    out.update(OPERATOR_QUERIES)
    out.update(ROWS_ONLY)
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: fn("d") for name, fn in SQL_QUERIES.items()}
    out.update({name: fn("d") for name, fn in OPERATOR_ORACLES.items()})
    return out
