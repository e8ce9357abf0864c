"""Shared DuckDB SQL fragments that restate the engine's canonical
contracts (tokenizer, TF-IDF formula, stopword list) — single source of
truth for every text-family oracle query.

These must mirror ``functions/text.py`` exactly:
    lower → strip non-[a-z0-9 space] → collapse ws → split(' ') → drop ''
    weight = tf * ln(N / df), round 6
"""

from __future__ import annotations

from ..functions.text import ALL_STOPWORDS

# token-array expression over a text column (DuckDB)
# NB: RE2's \s is [\t\n\f\r ] while Java's \s adds \x0B (vertical tab),
# so every oracle whitespace class spells \s\x0b to match the Spark side
# exactly (pinned by tests/test_properties.py tokenizer-contract test).
TOKS_EXPR = (
    r"list_filter(string_split(trim(regexp_replace(regexp_replace(lower({col}),"
    r" '[^a-z0-9\s\x0b]', '', 'g'), '[\s\x0b]+', ' ', 'g')), ' '), x -> x <> '')"
)


def toks_cte(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    """CTE `toks(doc_id, toks)` — canonical token arrays."""
    expr = TOKS_EXPR.format(col=text_col)
    return f"""
    toks AS (
      SELECT {id_col} AS doc_id, {expr} AS toks
      FROM {table}
      WHERE {text_col} IS NOT NULL
    )"""


def unigram_cte() -> str:
    """CTE `tok(doc_id, term)` — exploded unigrams (requires toks CTE)."""
    return """
    tok AS (
      SELECT doc_id, unnest(toks) AS term FROM toks WHERE len(toks) > 0
    )"""


def ngram_cte(max_n: int = 3) -> str:
    """CTE `tok(doc_id, term)` — 1..max_n-grams via list comprehension
    (requires toks CTE). Mirrors functions/text.py ngrams_up_to."""
    parts = ["toks"]
    for n in range(2, max_n + 1):
        joined = "||' '||".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
        parts.append(f"[{joined} for i in range(1, len(toks) - {n - 2})]")
    concat = " || ".join(parts)
    return f"""
    tok AS (
      SELECT doc_id, unnest({concat}) AS term
      FROM toks WHERE len(toks) > 0
    )"""


def tfidf_cte() -> str:
    """CTEs `counts`, `dft`, `n`, `tfidf(doc_id, term, tf, weight)` —
    requires a `tok(doc_id, term)` CTE upstream."""
    return """
    counts AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS df FROM counts GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM counts),
    tfidf AS (
      SELECT c.doc_id, c.term, c.tf,
             round(c.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS weight
      FROM counts c JOIN dft d USING (term) CROSS JOIN n
    )"""


# portable 60-bit md5 hash (see operators/dedup.md5_long — Spark side is
# conv(substr(md5(x),1,15),16,10), verified bit-identical cross-engine)
H60 = "('0x'||substr(md5({x}),1,15))::BIGINT"

# the one span-grain window width (operators/dedup.SPAN_WIDTH re-exported
# for oracle f-strings): every shared-fragment consumer's inline clause
# must interpolate THIS, never a literal 8, so the grain cannot diverge
from ..operators.dedup import SPAN_WIDTH  # noqa: E402


def span_scrub_ctes(width: int = SPAN_WIDTH) -> str:
    """CTEs ``t8, p, dw, rem, rc`` — the span-scrub window→removal
    pipeline shared by d24/ep14/st17 (requires the ``toks`` CTE
    upstream). Mirrors operators/dedup.span_scrub_removals exactly:
    stride-1 ``width``-token windows as 60-bit md5 longs, duplicated
    windows keep their min-doc owner, non-keeper occurrences mark every
    covered token position for removal. Factored once (r14 ADVICE) so a
    scrub-semantics fix cannot diverge between the queries."""
    w = width
    win = H60.format(x=f"array_to_string(toks[(pos+1):(pos+{w})], ' ')")
    return f"""
    t8 AS (SELECT doc_id, toks, len(toks) AS L FROM toks WHERE len(toks) >= {w}),
    p AS (
      SELECT doc_id, pos, {win} AS win
      FROM (SELECT doc_id, toks, unnest(range(0, L - {w - 1})) AS pos FROM t8)
    ),
    dw AS (
      SELECT win, min(doc_id) AS keep_doc
      FROM (SELECT DISTINCT doc_id, win FROM p)
      GROUP BY win HAVING count(*) > 1
    ),
    rem AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT p.doc_id, unnest(range(p.pos, p.pos + {w})) AS tok
        FROM p JOIN dw USING (win)
        WHERE p.doc_id <> dw.keep_doc
      )
    ),
    rc AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id)"""


def materialize_ctes(sql: str, *cte_names: str) -> str:
    """Rewrite ``name AS (`` → ``name AS MATERIALIZED (`` for the given
    CTE names (word-boundary match, all occurrences).

    DuckDB 1.0 INLINES every non-recursive CTE, so a fragment referenced
    by several consumers is re-evaluated per consumer — and when the
    consumers are UNION ALL branches they all run concurrently. d20's
    oracle at sf1 is the measured pathology: the 113M-row Jaccard
    intersection aggregate (cheap alone: 11 s, no spill at a 40 GB
    limit) is inlined into nt + three stats branches, and the combined
    query spilled >80 GB of temp and filled the disk. With the shared
    CTEs materialized the same query returns in 160 s with ZERO temp
    spill. Purely physical — results are unchanged (same rows either
    way wherever both forms finish).

    Callers pass a SUPERSET of names (a name absent from this oracle is
    a no-op), so a silent regex miss on a PRESENT definition would be
    indistinguishable from legitimate absence — the match is therefore
    case- and whitespace-tolerant (``name  as\\n(`` still rewrites), and
    tests/test_round15.py pins that no heavy fragment is left inlined
    in any guarded oracle."""
    import re as _re

    for name in cte_names:
        sql = _re.sub(
            rf"(?<![A-Za-z0-9_]){_re.escape(name)}\s+AS\s*\(",
            f"{name} AS MATERIALIZED (",
            sql,
            flags=_re.IGNORECASE,
        )
    return sql


def stopword_list_sql() -> str:
    """The engine's stopword list as a SQL array literal."""
    inner = ", ".join(f"'{w}'" for w in ALL_STOPWORDS)
    return f"[{inner}]"


def quality_cte() -> str:
    """CTE `qual(doc_id, quality_score)` — the x2/cur1 composite quality
    formula (functions/analysis.quality_score), restated once so every
    oracle that bands on quality shares the exact expression. Requires
    the `toks` CTE upstream."""
    return f"""
    qstats AS (
      SELECT t.doc_id,
             length(d.text) AS n_chars,
             length(regexp_replace(d.text, '[^\\s\\x0ba-zA-Z0-9]', '', 'g')) AS n_alnum_chars,
             len(t.toks) AS n_toks,
             len(list_filter(t.toks, x -> list_contains({stopword_list_sql()}, x))) AS n_stop,
             list_sum(list_transform(t.toks, x -> length(x))) AS tok_chars
      FROM toks t JOIN documents d USING (doc_id)
    ),
    qual AS (
      SELECT doc_id,
        round(
          least(CASE WHEN n_toks > 0 THEN CAST(n_stop AS DOUBLE) / n_toks ELSE 0.0 END * 4, 1.0) * 0.4
          + (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum_chars AS DOUBLE) / n_chars ELSE 0.0 END * 5, 1.0)) * 0.3
          + (CASE WHEN n_toks > 0 AND CAST(tok_chars AS DOUBLE) / n_toks BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3,
        6) AS quality_score
      FROM qstats
    )"""


def lloyd_dist(a: str, b: str) -> str:
    """Squared-L2 between two DOUBLE[] expressions as an explicit
    LEFT-TO-RIGHT fold — the same IEEE op sequence Spark's
    zip_with+aggregate runs, so on bit-identical inputs the distance is
    bit-identical (the m10/n23 determinism recipe)."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> (s[1] - s[2]) * (s[1] - s[2])), (x, y) -> x + y)"
    )


def lloyd_input_ctes(quant: int) -> str:
    """The shared qe/qd input pair (no WITH keyword) — floor-quantized
    embeddings + their exact double casts. Emitted ONCE even when several
    Lloyd chains (m11's k-sweep) share one corpus."""
    return f"""qe AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT)) AS q
  FROM embeddings
),
qd AS (SELECT vec_id, q, list_transform(q, x -> CAST(x AS DOUBLE)) AS d FROM qe)"""


def lloyd_ctes(
    dims: int, k: int, iters: int, quant: int, prefix: str = "", emit_input: bool = True
) -> str:
    """The deterministic-Lloyd CTE chain (no WITH keyword): qe/qd
    (floor-quantized embeddings), {prefix}c0..c{iters-1} (centers: exact
    integer means cast to double; emptied clusters keep their previous
    center), {prefix}a1..a{iters} (assignments: argmin of lloyd_dist,
    ties to the lower cluster_id). Mirrors
    operators/cluster.lloyd_deterministic exactly — m10 selects from
    a{iters}; n23 extends the chain with an IVF probe; m11 emits THREE
    prefixed chains (k sweep) over one shared qe/qd
    (emit_input=False)."""
    mean_list = ", ".join(
        f"CAST(sum(q[{i + 1}]) AS DOUBLE) / count(*)" for i in range(dims)
    )
    dist = lloyd_dist("qd.d", "c.c")
    p = prefix
    ctes = [lloyd_input_ctes(quant)] if emit_input else []
    ctes.append(
        f"""{p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster_id, d AS c
  FROM (SELECT vec_id, d FROM qd ORDER BY vec_id LIMIT {k})
)"""
    )
    for t in range(1, iters + 1):
        ctes.append(
            f"""{p}a{t} AS (
  SELECT vec_id, cluster_id FROM (
    SELECT qd.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY qd.vec_id
                              ORDER BY {dist}, c.cluster_id) AS rn
    FROM qd CROSS JOIN {p}c{t - 1} c
  ) WHERE rn = 1
)"""
        )
        if t < iters:
            ctes.append(
                f"""{p}m{t} AS (
  SELECT cluster_id, [{mean_list}] AS c
  FROM qd JOIN {p}a{t} USING (vec_id) GROUP BY cluster_id
),
{p}c{t} AS (
  SELECT p.cluster_id, COALESCE(m.c, p.c) AS c
  FROM {p}c{t - 1} p LEFT JOIN {p}m{t} m USING (cluster_id)
)"""
            )
    return ",\n".join(ctes)


def bpe_merge_ctes(n_merges: int, with_final_state: bool = False) -> tuple[str, str]:
    """(ctes, merge_table_select) — unrolled deterministic BPE trainer
    (requires the toks AND the canonical `tok` unigram CTE upstream —
    compose as `WITH {toks_cte()}, {unigram_cte()}, {ctes}` so the BPE
    oracles track the one shared tokenizer contract). ``with_final_state``
    additionally emits st{n_merges}, the segmentation AFTER the last
    merge, for serve-path oracles (v11/v13). A step whose pair pool is
    EMPTY (corpus dried up before n_merges) leaves b{t} with zero rows:
    the state CTE LEFT-JOINs it, the NULL l/r make every CASE take the
    no-merge branch, and the segmentation carries forward unchanged —
    mirroring train_bpe's early break (the merge-table select likewise
    contributes zero rows for that step). st0 is the
    distinct-term table (term, corpus tf, symbols joined by chr(31) — the
    unit separator, unreachable from the [a-z0-9]-only tokenizer), each
    step counts adjacent pairs weighted by tf, picks the winner
    (freq DESC, l, r — operators/bpe.train_bpe's exact tie-break), and
    re-segments via a string-encoded left-to-right greedy fold.

    The fold dodges a DuckDB list_reduce defect: a LIST inside a STRUCT
    accumulator silently loses elements (['a','a','a','b'] with rule
    (a,a) folded to res=['a'], not ['aa','a']), so the accumulator is a
    separator-joined STRING — "last symbol == L" is an exact
    ends_with(chr(31)||L) check (separator-bounded, so a multi-char
    symbol merely ENDING in L can't fire), and a merge appends R with no
    separator, which IS tail replacement in the joined form. Greedy
    non-overlap matches the Spark fold: the merged tail no longer equals
    L, so an overlapping second match can't fire."""
    sep = "chr(31)"
    ctes = [
        """st0 AS (
  SELECT term, count(*) AS tf,
         array_to_string(list_transform(range(1, len(term) + 1), i -> term[i]), chr(31)) AS symstr
  FROM tok GROUP BY term
)"""
    ]
    for t in range(n_merges):
        ctes.append(
            f"""p{t} AS (
  SELECT pr.l AS l, pr.r AS r, sum(tf) AS freq FROM (
    SELECT tf, unnest(list_transform(range(1, len(parts)),
                                     i -> {{l: parts[i], r: parts[i + 1]}})) AS pr
    FROM (SELECT tf, string_split(symstr, {sep}) AS parts FROM st{t})
  ) GROUP BY 1, 2
),
b{t} AS (SELECT l, r, freq FROM p{t} ORDER BY freq DESC, l, r LIMIT 1)"""
        )
        if t < n_merges - 1 or with_final_state:
            ctes.append(
                f"""st{t + 1} AS (
  SELECT term, tf,
         list_reduce(
           string_split(symstr, {sep}),
           (acc, e) -> CASE WHEN (acc = b.l OR ends_with(acc, {sep} || b.l)) AND e = b.r
                            THEN acc || e
                            ELSE acc || {sep} || e END
         ) AS symstr
  FROM st{t} LEFT JOIN b{t} b ON TRUE
)"""
            )
    selects = " UNION ALL ".join(
        f'SELECT CAST({t} AS BIGINT) AS step, l AS "left", r AS "right",'
        f" l || r AS merged, CAST(freq AS BIGINT) AS pair_freq FROM b{t}"
        for t in range(n_merges)
    )
    return ",\n".join(ctes), selects
