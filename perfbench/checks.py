"""Output checks, run outside the timed phase.

Scorers read parquet through DuckDB with a glob when the path is a
directory, so sharded ``pages.parquet/`` corpora score the same way as the
single-file fixtures.  Checks return scores and, for a wrong output, the
reason; the harness counts an operation with a reason as failed.
"""

from __future__ import annotations

import math
import os

import duckdb


def parquet_src(path: str) -> str:
    """DuckDB ``read_parquet`` argument for a file or a directory of parts."""
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def rows(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def count_rows(path: str) -> int:
    return rows(f"SELECT count(*) FROM read_parquet('{parquet_src(path)}')")[0][0]


def golden_links(fx: str, urls: set[str] | None = None) -> set[tuple]:
    got = rows(f"SELECT url, start, \"end\", qid FROM "
               f"read_parquet('{parquet_src(fx + '/golden_links.parquet')}')")
    return {r for r in got if urls is None or r[0] in urls}


def golden_triples(fx: str) -> set[tuple]:
    return set(rows(f"SELECT subj, pred, obj FROM "
                    f"read_parquet('{parquet_src(fx + '/golden_triples.parquet')}')"))


def expected_triples(fx: str, urls: set[str], whitelist) -> set[tuple]:
    """Golden triples of a url subset: the golden links of those urls joined
    to the KB triples over the whitelist (how ``golden_triples`` is built
    for the whole corpus)."""
    qids = {q for (_, _, _, q) in golden_links(fx, urls)}
    kb = rows(f"SELECT subj, pred, obj FROM "
              f"read_parquet('{parquet_src(fx + '/kb_triples.parquet')}')")
    allowed = set(whitelist)
    return {t for t in kb if t[0] in qids and t[1] in allowed}


def page_texts(fx: str) -> dict[str, str]:
    got = rows(f"SELECT url, text FROM "
               f"read_parquet('{parquet_src(fx + '/pages.parquet')}')")
    return dict(got)


def golden_link_counts(fx: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for url, *_ in golden_links(fx):
        counts[url] = counts.get(url, 0) + 1
    return counts


def score(emitted: set, expected: set) -> dict:
    """Precision and recall of an emitted row set against its oracle.  An
    empty side scores 1.0 only when the other side is empty too."""
    hit = len(emitted & expected)
    return {
        "hit": hit, "emitted": len(emitted), "expected": len(expected),
        "precision": hit / len(emitted) if emitted else float(not expected),
        "recall": hit / len(expected) if expected else float(not emitted),
    }


def fmt(s: dict) -> str:
    """``hit/emitted/expected`` of a :func:`score`."""
    return f"{s['hit']}/{s['emitted']}/{s['expected']}"


def fold(quality: dict, *scores: dict) -> None:
    """Keep the worst precision and recall seen so far in ``quality``."""
    for s in scores:
        quality["precision"] = min(quality["precision"], s["precision"])
        quality["recall"] = min(quality["recall"], s["recall"])


def set_verdict(what: str, emitted: set, expected: set) -> str | None:
    """Why an emitted row set is wrong, or None when it equals its oracle."""
    if emitted == expected:
        return None
    return (f"{what}: {len(emitted - expected)} unexpected, "
            f"{len(expected - emitted)} missing of {len(expected)}")


def exact_share(got: dict, want: dict) -> float:
    """Share of ``want``'s keys whose value in ``got`` is identical."""
    if not want:
        return 1.0
    return sum(1 for k, v in want.items() if got.get(k) == v) / len(want)


def text_verdict(got: dict, want: dict, what: str = "extracted text"
                 ) -> tuple[float, str | None]:
    """Share of keys whose value is identical, and why the output is wrong
    (a differing value, or a key on one side only)."""
    share = exact_share(got, want)
    if share == 1.0 and len(got) == len(want):
        return share, None
    return share, (f"{what}: {round((1 - share) * len(want))} of {len(want)} "
                   f"differ, {len(set(got) - set(want))} unexpected")


def lineage_verdicts(lineage_rows: list[tuple], commits: list[tuple[int, dict]],
                     gold_counts: dict[str, int]
                     ) -> tuple[dict, str | None, float]:
    """Checks on the committed lineage ``(run_id, url, n_linked)`` rows.

    Returns per-commit failures (a commit whose lineage does not hold
    exactly its pages, or whose per-url link counts differ from the
    goldens), why a url is recorded more than once (None when every url is
    recorded once), and the share of committed urls whose link count
    equals the golden count."""
    by_run: dict[str, list] = {}
    for run_id, url, n_linked in lineage_rows:
        by_run.setdefault(run_id, []).append((url, n_linked))
    fails = {}
    for i, out in commits:
        got = by_run.get(out["run_id"], [])
        if len(got) != out["n_pages"]:
            fails[i] = f"lineage holds {len(got)} urls for {out['n_pages']} pages"
        elif any(n != gold_counts.get(u, 0) for u, n in got):
            fails[i] = "per-url link counts differ from the goldens"
    urls = [u for _, u, _ in lineage_rows]
    once = None if len(urls) == len(set(urls)) else \
        f"{len(urls) - len(set(urls))} urls recorded more than once"
    counts = {u: n for _, u, n in lineage_rows}
    share = exact_share(counts, {u: gold_counts.get(u, 0) for u in counts})
    return fails, once, share


def canon(value):
    """Comparable form of one output cell: floats keep their value but
    collapse -0.0/0.0 and integral floats onto ints, so an engine that
    returns 64.0 where another returns 64 compares equal."""
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        if value.is_integer():
            return int(value)
    if hasattr(value, "item"):  # numpy scalar
        return canon(value.item())
    return value


def row_set(records, columns: list[str]) -> set[tuple]:
    """Set of ``columns`` tuples from dict-like records."""
    return {tuple(canon(r[c]) for c in columns) for r in records}
