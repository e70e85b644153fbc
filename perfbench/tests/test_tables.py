"""The generated driver tables give the dedup and ANN queries real matches.

Runs each query's DuckDB oracle twin (no Spark) on the tables of the
headline_queries workload at its scale, for a few seeds.
Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections

import numpy as np
import pytest

from perfbench import tables
from perfbench.oracles import query_expected_in
from perfbench.workloads import WORKLOADS


def test_vocabulary_tail_survives_the_document_frequency_cap():
    docs = tables._documents(np.random.default_rng(3), 500)
    token_sets = [set(t.split()) for t in docs["text"]]
    df = collections.Counter(tok for s in token_sets for tok in s)
    hot = {tok for tok, n in df.items() if n * 5 > len(docs)}  # dedup.token_sets' cap
    assert len(set(tables.VOCAB)) == len(tables.VOCAB)
    assert len(hot) < 60
    assert np.mean([len(s - hot) for s in token_sets]) > 15


@pytest.mark.parametrize("seed", [1, 501, 7920])
def test_dedup_queries_find_planted_matches(tmp_path, seed):
    scale = WORKLOADS["headline_queries"].table_scale
    tables.write_tables(str(tmp_path), scale, seed)
    names = ["dedup_jaccard_lsh", "neardup_ann", "chunk_rewrite_dedup"]
    found = tables.planted_matches(query_expected_in(str(tmp_path), names))
    assert all(n > 0 for n in found.values()), found
