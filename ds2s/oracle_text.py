"""DuckDB oracles for the training-data pipeline operators (ds2s.textops,
ds2s.dedup, ds2s.ann, ds2s.multimodal).

Same contract as ds2s.oracle: each SQL string recomputes the operator from
the raw ``documents`` / ``embeddings`` views with byte-identical semantics
— md5 hex hashes, lexicographic minima, frozen literal word lists, 6-decimal
rounding before ranking/threshold comparisons.
"""

from __future__ import annotations

from .dedup import MAX_BAND_DF, N_BANDS, N_PERM
from .textops import LANG_PROFILES, SHINGLE_K, STOPWORDS_EN

_TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"

_SHINGLES = f"""
CASE WHEN len(toks) >= {SHINGLE_K}
     THEN list_transform(generate_series(1, len(toks) - {SHINGLE_K - 1}),
                         i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))
     WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
     ELSE CAST([] AS VARCHAR[]) END"""

_SH_CTES = f"""
shd AS (
  SELECT doc_id, {_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
),
sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shd)"""


def sql_token_count() -> str:
    # BPE-ish pretokenizer pattern must stay identical to
    # ds2s.textops.BPE_PRETOKEN_RE (RE2-safe: no lookaheads).
    return f"""
SELECT doc_id,
       cast(len(toks) AS INT) AS n_tokens,
       cast(len(list_distinct(toks)) AS INT) AS n_distinct,
       cast(length(text) AS INT) AS n_chars,
       cast(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_extract_all(trim(text), '[^ \\t\\n\\f\\r]+')) END AS INT)
         AS n_ws_tokens,
       cast(coalesce(list_sum(list_transform(
              regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\f\\r]+'),
              p -> cast(ceil(length(p) / 4.0) AS INT))), 0) AS INT)
         AS n_bpe_tokens
FROM (SELECT doc_id, text, {_TOK} AS toks FROM documents)
ORDER BY doc_id"""


def sql_quality_score() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars, {_TOK} AS toks FROM documents
), r AS (
  SELECT doc_id,
         cast(len(toks) AS INT) AS n_tokens,
         coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS alnum,
         coalesce(len(list_filter(toks, t -> t IN ({stop_list}))), 0) AS n_stop,
         n_chars
  FROM base
), ratios AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_chars > 0 THEN round(alnum * 1.0 / n_chars, 6) ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_tokens > 0 THEN round(n_stop * 1.0 / n_tokens, 6) ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_tokens > 0 THEN round(alnum * 1.0 / n_tokens, 6) ELSE 0.0 END AS avg_token_len
  FROM r
)
SELECT doc_id, n_tokens, alpha_ratio, stop_ratio, avg_token_len,
       round(0.5 * least(1.0, n_tokens / 100.0)
           + 0.3 * stop_ratio
           + 0.2 * least(1.0, avg_token_len / 8.0), 6) AS quality
FROM ratios ORDER BY doc_id"""


def _kgrams_sql(k: int) -> str:
    """Plain k-grams over ``toks`` (no tiny-doc fallback — mirrors
    ds2s.textops._kgrams exactly)."""
    return f"""
CASE WHEN len(toks) >= {k}
     THEN list_transform(generate_series(1, len(toks) - {k - 1}),
                         i -> array_to_string(toks[i:i+{k - 1}], ' '))
     ELSE CAST([] AS VARCHAR[]) END"""


def sql_repetition_score() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
g AS (
  SELECT doc_id,
         cast(len(toks) AS INT) AS n_tokens,
         {_kgrams_sql(2)} AS g2,
         {_kgrams_sql(3)} AS g3
  FROM t
),
fr AS (
  SELECT doc_id, n_tokens,
         CASE WHEN len(g2) > 0
              THEN round((len(g2) - len(list_distinct(g2))) * 1.0 / len(g2), 6)
              ELSE 0.0 END AS dup_2gram_frac,
         CASE WHEN len(g3) > 0
              THEN round((len(g3) - len(list_distinct(g3))) * 1.0 / len(g3), 6)
              ELSE 0.0 END AS dup_3gram_frac
  FROM g
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
topc AS (SELECT doc_id, max(c) AS maxc FROM cnt GROUP BY doc_id)
SELECT fr.doc_id, fr.n_tokens, fr.dup_2gram_frac, fr.dup_3gram_frac,
       CASE WHEN fr.n_tokens > 0
            THEN round(topc.maxc * 1.0 / fr.n_tokens, 6)
            ELSE 0.0 END AS top_token_frac,
       greatest(fr.dup_2gram_frac, fr.dup_3gram_frac,
                CASE WHEN fr.n_tokens > 0
                     THEN round(topc.maxc * 1.0 / fr.n_tokens, 6)
                     ELSE 0.0 END) AS repetition
FROM fr LEFT JOIN topc USING (doc_id)
ORDER BY fr.doc_id"""


def sql_langid() -> str:
    vals = ", ".join(
        f"('{lang}', '{w}')"
        for lang, words in sorted(LANG_PROFILES.items())
        for w in words
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS word FROM documents
), prof(plang, word) AS (VALUES {vals}),
hits AS (
  SELECT doc_id, plang, count(*) AS hits
  FROM tok JOIN prof USING (word) GROUP BY doc_id, plang
), best AS (
  SELECT doc_id, plang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang ASC) AS rn
  FROM hits
)
SELECT d.doc_id,
       coalesce(b.plang, 'und') AS pred_lang,
       cast(coalesce(b.hits, 0) AS BIGINT) AS hits
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
ORDER BY doc_id"""


def sql_fingerprint() -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_TOK} AS toks FROM documents)
SELECT doc_id,
       md5(text) AS content_md5,
       list_min(list_transform({_SHINGLES}, s -> md5(s))) AS shingle_min
FROM t ORDER BY doc_id"""


def sql_exact_dup_groups() -> str:
    return """
SELECT md5(text) AS content_md5,
       cast(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS first_doc
FROM documents GROUP BY content_md5 HAVING count(*) >= 2
ORDER BY content_md5"""


def sql_jaccard_pairs(threshold: float = 0.7, max_shingle_df: int = 100) -> str:
    return f"""
WITH {_SH_CTES},
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_shingle_df}),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= {threshold}
ORDER BY doc_a, doc_b"""


def sql_minhash_lsh_pairs(n_perm: int = N_PERM, n_bands: int = N_BANDS,
                          max_band_df: int = MAX_BAND_DF) -> str:
    rpb = n_perm // n_bands
    return f"""
WITH {_SH_CTES},
perms AS (SELECT unnest(generate_series(0, {n_perm - 1})) AS perm),
sig AS (
  SELECT doc_id, perm,
         min(md5(CAST(perm AS VARCHAR) || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN perms GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, CAST(floor(perm / {rpb}) AS INT) AS band,
         string_agg(minhash, '|' ORDER BY perm) AS band_key
  FROM sig GROUP BY doc_id, band
),
keepb AS (SELECT band, band_key FROM bands
          GROUP BY band, band_key HAVING count(*) <= {max_band_df}),
bandsf AS (SELECT bands.* FROM bands JOIN keepb USING (band, band_key))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bandsf a JOIN bandsf b ON a.band = b.band AND a.band_key = b.band_key
                            AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b"""


# shared by sql_simhash64 and sql_simhash_near_dup_pairs: the (doc_id,
# simhash) fingerprint table, semantics identical to ds2s.dedup.simhash64
_SIMHASH_CTES = """
tok AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
hh AS (SELECT doc_id, tf, substr(md5(term), 1, 16) AS h FROM tf),
bits AS (SELECT unnest(generate_series(0, 63)) AS bit),
acc AS (
  SELECT doc_id, bit,
         sum(CASE WHEN ((strpos('0123456789abcdef',
                                substr(h, CAST(floor(bit / 4) AS INT) + 1, 1)) - 1)
                        >> (3 - bit % 4)) & 1 = 1
                  THEN tf ELSE -tf END) AS s
  FROM hh CROSS JOIN bits GROUP BY doc_id, bit
),
nibs AS (
  SELECT doc_id, CAST(floor(bit / 4) AS INT) AS nibble,
         sum(CASE WHEN s > 0 THEN (1 << (3 - bit % 4)) ELSE 0 END) AS nibval
  FROM acc GROUP BY doc_id, nibble
),
sim AS (
  SELECT doc_id, string_agg(lower(to_hex(nibval)), '' ORDER BY nibble) AS simhash
  FROM nibs GROUP BY doc_id
)""".format(tok=_TOK)


def sql_simhash64() -> str:
    return f"""
WITH {_SIMHASH_CTES}
SELECT doc_id, simhash FROM sim ORDER BY doc_id"""


def sql_simhash_near_dup_pairs(max_hamming: int = 3, n_bands: int = 4,
                               max_band_df: int = MAX_BAND_DF) -> str:
    """Banded SimHash near-dup pairs (ds2s.dedup.simhash_near_dup_pairs):
    the candidate set is the banded self-join WITH the same bucket cap —
    identical declared semantics, not a quadratic relaxation — and the
    hamming verify is nibble-wise xor+bit_count over the hex strings."""
    w = 16 // n_bands
    return f"""
WITH {_SIMHASH_CTES},
bands AS (
  SELECT doc_id, band, substr(simhash, band * {w} + 1, {w}) AS band_key
  FROM sim CROSS JOIN (SELECT unnest(generate_series(0, {n_bands - 1})) AS band)
),
keepb AS (SELECT band, band_key FROM bands
          GROUP BY band, band_key HAVING count(*) <= {max_band_df}),
bandsf AS (SELECT bands.* FROM bands JOIN keepb USING (band, band_key)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandsf a JOIN bandsf b ON a.band = b.band AND a.band_key = b.band_key
                              AND a.doc_id < b.doc_id
),
pos AS (SELECT unnest(generate_series(1, 16)) AS i),
ham AS (
  SELECT c.doc_a, c.doc_b,
         sum(bit_count(CAST(xor(
             strpos('0123456789abcdef', substr(sa.simhash, CAST(i AS INT), 1)) - 1,
             strpos('0123456789abcdef', substr(sb.simhash, CAST(i AS INT), 1)) - 1
         ) AS BIGINT))) AS hamming
  FROM cand c
  JOIN sim sa ON sa.doc_id = c.doc_a
  JOIN sim sb ON sb.doc_id = c.doc_b
  CROSS JOIN pos
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
FROM ham WHERE hamming <= {max_hamming}
ORDER BY doc_a, doc_b"""


def sql_dup_groups(n_perm: int = N_PERM, n_bands: int = N_BANDS,
                   max_band_df: int = MAX_BAND_DF) -> str:
    """Transitive closure of (MinHash-LSH pairs ∪ exact-dup star edges)
    via a recursive CTE; group_id = min doc_id of the component —
    the independent oracle for the engine's iterated hash-min
    label-propagation (ds2s.dedup.dup_groups).  The LSH edge set carries
    the same ``max_band_df`` bucket cap as sql_minhash_lsh_pairs."""
    rpb = n_perm // n_bands
    return f"""
WITH RECURSIVE {_SH_CTES},
perms AS (SELECT unnest(generate_series(0, {n_perm - 1})) AS perm),
sig AS (
  SELECT doc_id, perm,
         min(md5(CAST(perm AS VARCHAR) || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN perms GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, CAST(floor(perm / {rpb}) AS INT) AS band,
         string_agg(minhash, '|' ORDER BY perm) AS band_key
  FROM sig GROUP BY doc_id, band
),
keepb AS (SELECT band, band_key FROM bands
          GROUP BY band, band_key HAVING count(*) <= {max_band_df}),
bandsf AS (SELECT bands.* FROM bands JOIN keepb USING (band, band_key)),
lshp AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandsf a JOIN bandsf b ON a.band = b.band AND a.band_key = b.band_key
                              AND a.doc_id < b.doc_id
),
exg AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS first_doc
  FROM documents
),
exe AS (SELECT first_doc AS doc_a, doc_id AS doc_b FROM exg
        WHERE doc_id != first_doc),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM lshp
  UNION SELECT doc_b, doc_a FROM lshp
  UNION SELECT doc_a, doc_b FROM exe
  UNION SELECT doc_b, doc_a FROM exe
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id,
       least(u, min(v)) AS group_id,
       CAST(least(u, min(v)) = u AS INT) AS is_keeper
FROM reach GROUP BY u ORDER BY doc_id"""


def sql_dedup_filter(n_perm: int = N_PERM, n_bands: int = N_BANDS) -> str:
    """Documents surviving dedup: all docs minus non-keeper members of
    the transitive dup closure (see sql_dup_groups)."""
    closure = sql_dup_groups(n_perm, n_bands)
    # strip the trailing ORDER BY of the subquery
    closure = closure.rsplit("ORDER BY", 1)[0]
    return f"""
SELECT d.doc_id, md5(d.text) AS content_md5
FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM ({closure}) WHERE is_keeper = 0
)
ORDER BY d.doc_id"""


_VEC_CTES = """
vv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
vn AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
  FROM vv
)"""


def sql_embedding_near_dup(threshold: float = 0.95) -> str:
    return f"""
WITH {_VEC_CTES},
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
               / (a.norm * b.norm), 6) AS cosine
  FROM vn a JOIN vn b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {threshold}
ORDER BY vec_a, vec_b"""


def sql_ann_bruteforce_topk(k: int = 10, every: int = 97) -> str:
    return f"""
WITH {_VEC_CTES},
q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM vn WHERE vec_id % {every} = 0),
scored AS (
  SELECT q.qid, vn.vec_id,
         round(list_sum(list_transform(list_zip(q.qv, vn.v), x -> x[1] * x[2]))
               / (vn.norm * q.qnorm), 6) AS cosine
  FROM vn CROSS JOIN q WHERE vn.vec_id != q.qid
)
SELECT qid, cast(rank AS INT) AS rank, vec_id, cosine FROM (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k} ORDER BY qid, rank"""


def sql_byte_histogram(n_buckets: int = 16) -> str:
    """Byte-bucket histogram of the utf-8 payload (ASCII corpus verified in
    FIXTURES.md, so char codepoints == bytes)."""
    return f"""
WITH chars AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(text)),
                               i -> ascii(substr(text, i, 1)))) AS code
  FROM documents WHERE length(text) > 0
),
h AS (
  SELECT doc_id, CAST(floor(code / {256 // n_buckets}) AS INT) AS bucket,
         count(*) AS cnt
  FROM chars GROUP BY doc_id, bucket
),
tot AS (SELECT doc_id, sum(cnt) AS n FROM h GROUP BY doc_id)
SELECT h.doc_id, h.bucket, cast(h.cnt AS BIGINT) AS cnt,
       round(h.cnt * 1.0 / t.n, 6) AS frac
FROM h JOIN tot t ON h.doc_id = t.doc_id
ORDER BY h.doc_id, h.bucket"""


def sql_resize_media(target_len: int = 64) -> str:
    """Average-pool the utf-8 payload to ``target_len`` buckets — must
    reproduce ds2s.multimodal.resize_media's frozen pooling rule
    (bucket = 0-based-sample-index * target_len // n; mean rounded
    half-up to 6 dp; ASCII corpus so codepoints == bytes)."""
    return f"""
WITH chars AS (
  SELECT doc_id, length(text) AS n,
         unnest(generate_series(1, length(text))) AS i,
         unnest(list_transform(generate_series(1, length(text)),
                               i -> ascii(substr(text, i, 1)))) AS code
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(((i - 1) * {target_len}) // n AS INT) AS pos,
       round(avg(code), 6) AS value
FROM chars GROUP BY doc_id, pos
ORDER BY doc_id, pos"""


def sql_gif_frame_sample(n_frames: int = 4) -> str:
    """The gif_frame_sample oracle: gif_media_table's frames
    balanced-partition the document bytes (k = min(n_frames, n) frames,
    or ceil(n/65535) if more, so each width fits a u16; lengths n//k (+1
    for the first n%k frames) — see ds2s.multimodal._gif_frame_widths),
    so each decoded frame is exactly
    a substring of the source text (ASCII corpus: codepoints == bytes).
    No decoder on the oracle side — this checks the engine's real
    container parse + LZW decode against pure string arithmetic."""
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         greatest(least({n_frames}, length(text)),
                  (length(text) + 65534) // 65535) AS k
  FROM documents WHERE length(text) > 0
)
SELECT d.doc_id,
       CAST(t.i AS INT) AS frame_id,
       CAST((d.n // d.k) + CASE WHEN t.i < d.n % d.k THEN 1 ELSE 0 END
            AS INT) AS n_px,
       substr(d.text,
              CAST(t.i * (d.n // d.k) + least(t.i, d.n % d.k) + 1 AS INT),
              CAST((d.n // d.k)
                   + CASE WHEN t.i < d.n % d.k THEN 1 ELSE 0 END AS INT)
             ) AS frame_text
FROM d, unnest(generate_series(0, d.k - 1)) AS t(i)
ORDER BY d.doc_id, frame_id"""
