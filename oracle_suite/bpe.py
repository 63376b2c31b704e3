"""DuckDB oracle for ``pipz_spark.datapipe.bpe.bpe_tokens_df``.

An independent SQL replay of the same pinned merge table, used by the
declared ``dp_bpe_tokens`` query and the BPE equivalence tests. It
relies on the application-order equivalence stated in the library
module's docstring: a well-formed merge list applied one merge at a
time in rank order segments text exactly like the lowest-rank-first
loop.
"""

from __future__ import annotations

from pipz_spark.datapipe.bpe import PRETOKEN_PATTERN


def oracle_sql(
    merges: tuple[tuple[str, str], ...],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Generate the DuckDB oracle for ``bpe_tokens_df`` — an
    INDEPENDENT replay of the same merge table: wrap each character of
    every distinct word in \\x02..\\x03 markers, apply the merges as a
    rank-ordered ``replace`` chain inside a recursive CTE (valid
    because trained merge lists are well-formed, see module
    docstring), then re-aggregate counts and the \\x01-joined stream
    per document. The markers make a pattern match exactly a whole
    adjacent token pair — never a token's interior or a partial
    overlap."""
    s, e = "\x02", "\x03"

    def q(tok: str) -> str:  # SQL string-literal escape for merge tokens
        return tok.replace("'", "''")

    rows = ",\n  ".join(
        f"({i + 1}, '{s}{q(a)}{e}{s}{q(b)}{e}', '{s}{q(a + b)}{e}')"
        for i, (a, b) in enumerate(merges)
    )
    n = len(merges)
    if n == 0:
        # zero merges = per-character tokenization; a bare `VALUES`
        # with no rows is a parse error, so emit one inert row the
        # recursion (JOIN ON rank = r+1 >= 1) can never touch
        rows = "(0, '', '')"
    # the pre-tokenizer pattern, spelled with the same explicit
    # whitespace class; single-quoted for SQL (no quotes inside)
    pat = PRETOKEN_PATTERN
    return f"""
WITH RECURSIVE
m(rank, pat, rep) AS (VALUES
  {rows}),
d AS (
  SELECT {id_col}, regexp_extract_all(coalesce({text_col}, ''), '{pat}') AS ws
  FROM {table}),
w AS (
  SELECT {id_col}, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM d),
u AS (SELECT DISTINCT w FROM w),
enc AS (
  SELECT w, regexp_replace(w, '(.)', chr(2) || '\\1' || chr(3), 'g') AS str, 0 AS r
  FROM u
  UNION ALL
  SELECT enc.w, replace(enc.str, m.pat, m.rep), enc.r + 1
  FROM enc JOIN m ON m.rank = enc.r + 1),
fin AS (
  SELECT w,
         length(str) - length(replace(str, chr(2), '')) AS ntok,
         replace(substr(str, 2, length(str) - 2), chr(3) || chr(2), chr(1)) AS wtoks
  FROM enc WHERE r = {n}),
agg AS (
  SELECT w.{id_col},
         SUM(fin.ntok) AS n,
         string_agg(fin.wtoks, chr(1) ORDER BY w.i) AS stream
  FROM w JOIN fin ON w.w = fin.w
  GROUP BY w.{id_col})
SELECT t.{id_col},
       CAST(coalesce(agg.n, 0) AS BIGINT) AS n_bpe_tokens,
       md5(coalesce(agg.stream, '')) AS bpe_token_hash
FROM {table} t LEFT JOIN agg ON t.{id_col} = agg.{id_col}
"""
