"""Independent output checks, in the benchmark's own DuckDB SQL.

Each ``check_*`` returns a list of problems; an empty list means the
engine's output is correct. Nothing here imports the engine.
"""

from __future__ import annotations

import duckdb

BM25_K1, BM25_B = 1.2, 0.75
TOKEN_RE = "[a-z0-9]+"


def _terms(query: str) -> list[str]:
    import re

    return sorted(set(re.findall(TOKEN_RE, query.lower())))


class SearchOracle:
    """BM25 pages (score rounded to 4 dp, ties by doc_id) with whole-word,
    case-insensitive ``**term**`` highlighting."""

    def __init__(self, docs_path: str) -> None:
        self.db = duckdb.connect()
        self.db.execute(f"""
            CREATE TABLE docs AS
            SELECT doc_id, text, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
            FROM read_parquet('{docs_path}');
            CREATE TABLE stats AS
            SELECT count(*) AS n, sum(len(toks)) AS sdl FROM docs;
            CREATE TABLE tf AS
            SELECT doc_id, len(toks) AS dl, term, count(*) AS tf
            FROM (SELECT doc_id, toks, unnest(toks) AS term FROM docs)
            GROUP BY ALL""")
        self._pages: dict = {}

    def page(self, query: str, k: int, page: int) -> list[tuple]:
        key = (query, k, page)
        if key not in self._pages:
            terms = _terms(query)
            pattern = r"(?i)\b(" + "|".join(terms) + r")\b"
            self._pages[key] = self.db.execute(f"""
                WITH sel AS (SELECT * FROM tf WHERE list_contains(?, term)),
                df AS (SELECT term, count(*) AS df FROM sel GROUP BY term),
                scored AS (
                  SELECT doc_id, round(sum(
                    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ({BM25_K1} + 1))
                    / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (sdl::DOUBLE / n)))
                  ), 4) AS score
                  FROM sel JOIN df USING (term) CROSS JOIN stats GROUP BY doc_id)
                SELECT s.doc_id, s.score, regexp_replace(d.text, ?, '**\\1**', 'g')
                FROM scored s JOIN docs d USING (doc_id)
                ORDER BY s.score DESC, s.doc_id LIMIT {k} OFFSET {k * page}""",
                [terms, pattern]).fetchall()
        return self._pages[key]

    def check(self, query: str, k: int, page: int, rows: list[tuple]) -> list[str]:
        want = self.page(query, k, page)
        if [r[0] for r in rows] != [w[0] for w in want]:
            return [f"search {query!r} page {page}: ids {[r[0] for r in rows]} "
                    f"!= {[w[0] for w in want]}"]
        for (doc, score, hl), (_, wscore, whl) in zip(rows, want):
            if abs(score - wscore) > 1.01e-4:
                return [f"search {query!r} page {page}: doc {doc} score {score} != {wscore}"]
            if hl != whl:
                return [f"search {query!r} page {page}: doc {doc} highlight differs"]
        return []


def doc_ids(parquet_glob: str) -> list[int]:
    return [r[0] for r in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{parquet_glob}')").fetchall()]


def check_ingest(accepted_glob: str, postings_glob: str, landed: set[int],
                 must_reject: set[int]) -> list[str]:
    """Invariants of the ingest run's stores."""
    ids = doc_ids(accepted_glob)
    indexed = len(set(doc_ids(postings_glob)))
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} docs accepted twice")
    if set(ids) - landed:
        problems.append(f"{len(set(ids) - landed)} accepted docs were never landed")
    if set(ids) & must_reject:
        problems.append(f"planted duplicates accepted: {sorted(set(ids) & must_reject)}")
    if indexed != len(set(ids)):
        problems.append(f"index holds {indexed} docs, {len(set(ids))} accepted")
    return problems
