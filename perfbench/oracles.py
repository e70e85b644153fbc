"""Expected outputs, computed without Spark, and the checks against them.

* Transcript workloads: ``reference_impl.reference_labels`` (the pandas
  re-implementation of the quality rules) on the same seeded corpus gives
  the kept set ``(conv_id, turn_idx, scrubbed_text, lang)`` and the
  per-reason drop counts. It is cached next to the corpus, keyed by the
  package source, because it is the slowest step of a run.
* Headline queries: each query's ``oracle_sql()`` DuckDB twin over the
  same parquet files, compared with ``scripts/check_oracle.compare``.

Every check returns a list of problems; an empty list means the output
matched.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pandas as pd

from .inputs import PKG, ROOT, cached, corpus_key, tree_hash

KEPT_COLS = ["conv_id", "turn_idx", "scrubbed_text", "lang"]
TOTAL = "__total__"


def reference(n_conversations: int, seed: int) -> tuple[pd.DataFrame, dict[str, int]]:
    """(expected kept rows, expected per-reason counts incl. __total__)."""

    def build(staging: str) -> None:
        from dataquality_box_spark.reference_impl import reference_labels
        from dataquality_box_spark.synth import gen_transcripts

        labels = reference_labels(gen_transcripts(n_conversations, seed))
        labels.loc[labels["keep"], KEPT_COLS].to_parquet(
            os.path.join(staging, "kept.parquet"), index=False
        )
        counts = Counter(r for reasons in labels["drop_reasons"] for r in reasons)
        counts[TOTAL] = len(labels)
        with open(os.path.join(staging, "reasons.json"), "w") as f:
            json.dump(dict(counts), f, sort_keys=True)

    key = f"reference-{corpus_key(n_conversations, seed)}-{tree_hash(PKG)}"
    path = cached(key, build)
    with open(os.path.join(path, "reasons.json")) as f:
        reasons = json.load(f)
    return pd.read_parquet(os.path.join(path, "kept.parquet")), reasons


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df[KEPT_COLS].copy()
    out["turn_idx"] = out["turn_idx"].astype("int64")
    for c in ("conv_id", "scrubbed_text", "lang"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out.sort_values(KEPT_COLS, kind="mergesort", na_position="first").reset_index(
        drop=True
    )


def check_kept(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Kept turns must equal the reference kept set as a multiset (turn_idx
    is not unique within a conversation: the corpus plants duplicates)."""
    missing = [c for c in KEPT_COLS if c not in got.columns]
    if missing:
        return [f"kept output lacks columns {missing}"]
    if len(got) != len(expected):
        return [f"kept rows {len(got)} vs reference {len(expected)}"]
    g, e = _canonical(got), _canonical(expected)
    for c in KEPT_COLS:
        neq = g[c].to_numpy() != e[c].to_numpy()
        if neq.any():
            i = int(neq.nonzero()[0][0])
            return [f"kept column {c} differs in {int(neq.sum())} rows, first {g[c][i]!r} vs {e[c][i]!r}"]
    return []


def check_reason_counts(got: dict[str, int], expected: dict[str, int]) -> list[str]:
    if got != expected:
        keys = sorted(set(got) | set(expected))
        diff = {k: (got.get(k), expected.get(k)) for k in keys if got.get(k) != expected.get(k)}
        return [f"drop-reason counts differ (got, reference): {diff}"]
    return []


def check_metrics_table(metrics: pd.DataFrame, expected: dict[str, int]) -> list[str]:
    """``drop_reason_metrics`` output: one row per reason plus __total__."""
    if metrics["drop_reason"].duplicated().any():
        return ["drop-reason metrics repeat a reason"]
    got = {str(r): int(n) for r, n in zip(metrics["drop_reason"], metrics["rows_flagged"])}
    return check_reason_counts(got, expected)


def check_ledger(root: str, n_rows: int, expected_kept: int, expected: dict[str, int]) -> list[str]:
    """Ledger of a resumable run: process-stage rows_in/rows_kept sums and
    the summed per-reason histogram must match the reference."""
    with open(os.path.join(root, "_ledger.jsonl")) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    proc = [e for e in entries if e["stage"] == "process" and e["status"] == "SUCCESS"]
    rows_in = sum(e["rows_in"] for e in proc)
    rows_kept = sum(e["rows_kept"] for e in proc)
    problems = []
    if rows_in != n_rows or rows_kept != expected_kept:
        problems.append(
            f"ledger rows_in/rows_kept {rows_in}/{rows_kept} vs {n_rows}/{expected_kept}"
        )
    reasons: Counter[str] = Counter()
    for e in proc:
        reasons.update(e["drop_reason_counts"])
    reasons[TOTAL] = rows_in
    return problems + check_reason_counts(dict(reasons), expected)


def query_expected_in(tables_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """DuckDB results of each query's oracle_sql() twin over tables_dir."""
    import duckdb

    from dataquality_box_spark.driver_queries import PAIRS
    from dataquality_box_spark.sources.driver_tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: con.execute(PAIRS[name][1]).fetchdf() for name in names}
    finally:
        con.close()


def query_expected(tables_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """query_expected_in, cached per table set."""

    def build(staging: str) -> None:
        for name, exp in query_expected_in(tables_dir, names).items():
            exp.to_pickle(os.path.join(staging, f"{name}.pkl"))

    key = f"oracle-{os.path.basename(tables_dir)}-{tree_hash(PKG)}"
    path = cached(key, build)
    return {n: pd.read_pickle(os.path.join(path, f"{n}.pkl")) for n in names}


def check_query(name: str, got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """The repository's own oracle comparison, imported unchanged."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_oracle import compare

    return compare(name, got, expected)
