"""Property-based tests (hypothesis) for the pure batch functions.

These fuzz the shared Python implementations (the same code the Spark
pandas UDFs execute, and the pandas reference oracle) over adversarial
unicode/PII inputs — complementing the exact-parity tests, which cover the
Spark == reference equality on the seeded corpus.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dataquality_box_spark.config import DEFAULT_CONFIG, SCRUB_STEPS
from dataquality_box_spark.functions.scoring import (
    detect_lang_batch,
    perplexity_batch,
)
from dataquality_box_spark.reference_impl import reference_labels, scrub_series
from dataquality_box_spark.schema import DROP_REASONS

_RAW_PII = [re.compile(p) for p, _ in SCRUB_STEPS]

# text fragments: plain words, unicode, and planted PII
_pii = st.sampled_from(
    [
        "bob@example.com",
        "x@y.zz",
        "123-45-6789",
        "(555) 123-4567",
        "+1 555-123-4567",
        "1123-45-6789",  # no word boundary: NOT an SSN
        "a.b-c@mail.example.org",
    ]
)
_word = st.text(min_size=1, max_size=12)
_fragment = st.one_of(_word, _pii)
_texts = st.lists(
    st.one_of(
        st.just(""),
        st.builds(" ".join, st.lists(_fragment, min_size=0, max_size=8)),
        st.text(max_size=200),
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=150, deadline=None)
@given(_texts)
def test_scrub_removes_all_pii_and_is_idempotent(texts):
    s = pd.Series(texts, dtype=object)
    once = scrub_series(s)
    # no raw PII pattern survives a scrub
    for cre in _RAW_PII:
        assert not once.str.contains(cre, regex=True).any()
    # idempotent: scrubbing scrubbed text changes nothing
    twice = scrub_series(once)
    assert (once == twice).all()


@settings(max_examples=150, deadline=None)
@given(_texts)
def test_scrub_preserves_pii_free_text(texts):
    s = pd.Series(texts, dtype=object)
    clean_mask = np.ones(len(s), dtype=bool)
    for cre in _RAW_PII:
        clean_mask &= ~s.fillna("").str.contains(cre, regex=True).to_numpy()
    out = scrub_series(s)
    assert (out.to_numpy()[clean_mask] == s.fillna("").to_numpy()[clean_mask]).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=300), min_size=1, max_size=30))
def test_scorers_total_and_deterministic(texts):
    s = pd.Series(texts, dtype=object)
    lang1, lang2 = detect_lang_batch(s), detect_lang_batch(s)
    assert (lang1 == lang2).all()
    assert lang1.isin(["en", "fr", "es", "de", "zh", "und"]).all()
    ppl1, ppl2 = perplexity_batch(s), perplexity_batch(s)
    assert (ppl1 == ppl2).all()
    assert np.isfinite(ppl1.to_numpy()).all()
    assert (ppl1.to_numpy() > 0).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(max_size=100), min_size=2, max_size=12), st.randoms())
def test_scorers_batch_split_invariant(texts, rnd):
    """Scoring a batch == scoring its pieces: no cross-row state leaks —
    the invariant that makes Arrow batch boundaries semantically invisible
    (pipeline determinism at any maxRecordsPerBatch)."""
    s = pd.Series(texts, dtype=object)
    cut = rnd.randrange(1, len(texts))
    whole_l, whole_p = detect_lang_batch(s), perplexity_batch(s)
    parts_l = pd.concat([detect_lang_batch(s.iloc[:cut]), detect_lang_batch(s.iloc[cut:])])
    parts_p = pd.concat([perplexity_batch(s.iloc[:cut]), perplexity_batch(s.iloc[cut:])])
    assert (whole_l == parts_l).all()
    assert np.allclose(whole_p.to_numpy(), parts_p.to_numpy(), rtol=0, atol=0)


@settings(max_examples=25, deadline=None)
@given(st.randoms())
def test_reference_labels_row_order_invariant(rnd):
    """reference_labels output is a pure function of the row SET (it sorts
    by conv_id/turn_idx/ts internally) — the stable-ordering contract."""
    from dataquality_box_spark.synth import gen_transcripts

    pdf = gen_transcripts(n_conversations=12, seed=7)
    shuffled = pdf.sample(frac=1.0, random_state=rnd.randrange(10**6)).reset_index(
        drop=True
    )
    a = reference_labels(pdf, DEFAULT_CONFIG)
    b = reference_labels(shuffled, DEFAULT_CONFIG)
    pd.testing.assert_frame_equal(a, b)


def test_reference_labels_internal_consistency():
    from dataquality_box_spark.synth import gen_transcripts

    pdf = gen_transcripts(n_conversations=60, seed=11)
    out = reference_labels(pdf, DEFAULT_CONFIG)
    taxonomy = set(DROP_REASONS)
    dropping = set(DEFAULT_CONFIG.dropping_reasons)
    for _, row in out.iterrows():
        assert set(row["drop_reasons"]) <= taxonomy
        if row["keep"]:
            assert not (set(row["drop_reasons"]) & dropping)
            assert row["scrubbed_text"] is not None
        else:
            assert set(row["drop_reasons"]) & dropping
            assert row["scrubbed_text"] is None


# --- round 2: toposort + minhash-constant properties (pure Python) ------

_rule_ids = st.lists(
    st.text(alphabet="ABCDEFGH", min_size=1, max_size=2), min_size=1, max_size=8,
    unique=True,
)


@given(ids=_rule_ids, data=st.data())
@settings(max_examples=50, deadline=None)
def test_toposort_respects_any_forward_dag(ids, data):
    """Random DAGs (edges only from earlier to later ids in a hidden
    order): toposort returns every rule exactly once with all
    dependencies first."""
    from dataquality_box_spark.operators.rules import Rule, toposort_rules

    deps = {}
    for i, rid in enumerate(ids):
        pool = ids[:i]
        deps[rid] = data.draw(
            st.lists(st.sampled_from(pool), max_size=len(pool), unique=True)
        ) if pool else []
    rules = [
        Rule.from_dict(
            {
                "meta": {"rule_id": rid, "severity": "P2", "depends_on": deps[rid]},
                "logic": {"type": "filter", "filter_expr": "lit(True)"},
            }
        )
        for rid in reversed(ids)  # feed in reverse to exercise reordering
    ]
    ordered = [r.rule_id for r in toposort_rules(rules)]
    assert sorted(ordered) == sorted(ids)
    pos = {rid: i for i, rid in enumerate(ordered)}
    for rid, ds in deps.items():
        for d in ds:
            assert pos[d] < pos[rid]


@given(k=st.integers(min_value=0, max_value=127), x=st.integers(0, 2**32 - 1))
@settings(max_examples=200, deadline=None)
def test_minhash_constants_never_overflow_int64(k, x):
    """(a_k*x + b_k) stays inside int64 for every 32-bit token hash —
    the invariant that makes the Spark and DuckDB integer arithmetic
    bit-identical."""
    from dataquality_box_spark.operators.dedup import MINHASH_PRIME, perm_consts

    a, b = perm_consts(k)
    assert a % 2 == 1 and 0 < a < 2**30 and 0 <= b < 2**30
    v = a * x + b
    assert v < 2**63
    assert 0 <= v % MINHASH_PRIME < 2**33


# --- next-fit packing: pure-Python model of the applyInPandas inner loop
# (the Spark wrapper is covered in tests/test_curation.py; fuzzing the
# recurrence here costs no JVM roundtrips)
def _nextfit_bins(tokens: list[int], budget: int) -> list[int]:
    bins, filled, cur = [], 0, 0
    for t in tokens:
        if filled and filled + t > budget:
            cur += 1
            filled = 0
        filled += t
        bins.append(cur)
    return bins


@given(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=200),
    st.integers(min_value=50, max_value=256),
)
@settings(max_examples=100, deadline=None)
def test_nextfit_budget_and_contiguity_properties(tokens, budget):
    bins = _nextfit_bins(tokens, budget)
    # bins are contiguous non-decreasing, starting at 0, step <= 1
    assert bins[0] == 0
    assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
    # every bin's total fits the budget unless it holds a single oversized doc
    totals: dict[int, int] = {}
    counts: dict[int, int] = {}
    for t, b in zip(tokens, bins):
        totals[b] = totals.get(b, 0) + t
        counts[b] = counts.get(b, 0) + 1
    for b, tot in totals.items():
        assert tot <= budget or counts[b] == 1
    # greedy tightness: a new bin opens only because the doc didn't fit
    firsts = {}
    for t, b in zip(tokens, bins):
        if b not in firsts:
            firsts[b] = t
    for b in range(1, len(firsts)):
        assert totals[b - 1] + firsts[b] > budget


# --- key canonicalization: Spark column semantics vs a pure-Python model
def _py_variants(key: str, prefix="AT", widths=(2, 3)) -> list[str]:
    s = key.strip().upper()
    digits = re.sub(r"[^0-9]", "", s)
    if not digits:
        return sorted({s})
    return sorted({f"{prefix}{digits.zfill(w)}" for w in widths})


# domain = printable ASCII (machine IDs): JVM trim/upper and Python
# strip()/upper() agree there; unicode whitespace/case-folding edge cases
# (e.g. 'ß', ' ') are outside what an ID column ever carries
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=16,
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_key_variants_match_python_model(keys):
    keys = [k for k in keys if k.strip()]
    if not keys:
        return
    import pyspark.sql.functions as F

    from dataquality_box_spark.functions.keys import canonical_key_variants
    from dataquality_box_spark.session import get_spark

    spark = get_spark("dqx-tests", parallelism=4, shuffle_partitions=4)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["v"]
        for r in df.select(
            "k", canonical_key_variants(F.col("k")).alias("v")
        ).collect()
    }
    for k in keys:
        assert got[k] == _py_variants(k), k


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_codec_roundtrip_any_geometry(w, h, seed):
    """synth -> decode is exact for any width (every row-padding
    residue class w%4) and height: channel means/min/max equal the
    source pixel field to float32 precision."""
    from dataquality_box_spark.operators.multimodal import (
        _decode_bmp,
        synth_bmp_bytes,
    )

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).astype(np.float64)
    # regenerate the same pixels the synth draws (same seed stream)
    feat = _decode_bmp(synth_bmp_bytes(w, h, seed=seed))
    assert abs(feat[0] - w / 4096.0) < 1e-6 and abs(feat[1] - h / 4096.0) < 1e-6
    for k in range(3):
        assert abs(feat[2 + k] - rgb[..., k].mean() / 255.0) < 1e-5
    gray = rgb.mean(axis=2)
    assert abs(feat[6] - gray.min() / 255.0) < 1e-5
    assert abs(feat[7] - gray.max() / 255.0) < 1e-5


@given(
    freq=st.floats(min_value=20.0, max_value=3000.0),
    ms=st.integers(min_value=10, max_value=400),
    rate=st.sampled_from([8000, 16000, 44100]),
    amp=st.floats(min_value=0.05, max_value=0.95),
    channels=st.integers(min_value=1, max_value=2),
)
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrip_any_params(freq, ms, rate, amp, channels):
    """synth -> decode: exact duration/channels/rate, rms within the
    analytic sine bound, peak <= amp (quantized)."""
    import math

    from dataquality_box_spark.operators.multimodal import (
        _decode_wav,
        synth_wav_bytes,
    )

    feat = _decode_wav(synth_wav_bytes(freq, ms, rate, amp, channels))
    n = int(rate * ms / 1000)
    assert abs(feat[0] - n / rate) < 1e-6
    assert feat[1] == channels
    assert abs(feat[2] - rate / 48000.0) < 1e-6
    # rms of a sine = amp/sqrt(2); short/low-freq clips see partial cycles
    assert feat[3] <= amp + 1e-3
    if freq * ms / 1000 >= 5:  # enough full cycles for the bound to bite
        assert abs(feat[3] - amp / math.sqrt(2)) < 0.15 * amp
    assert feat[4] <= amp + 1e-3


# --- round-5 additions: winnowing + doc splitting vs pure-Python refs


@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=3).map("".join),
        min_size=1,
        max_size=24,
    ),
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=12, deadline=None)
def test_winnow_matches_python_reference(spark, toks, k, w):
    import hashlib

    from dataquality_box_spark.operators.corpus import winnow_fingerprint_set

    def ref_winnow(tokens, k, w):
        grams = [
            " ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)
        ]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        if len(hs) < w:
            return set()
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [" ".join(toks)]})
    )
    got = {
        r["fingerprint"]
        for r in winnow_fingerprint_set(df, k=k, w=w).collect()
    }
    assert got == ref_winnow(toks, k, w)


@given(
    st.lists(
        st.lists(st.sampled_from("xyz"), min_size=1, max_size=2).map("".join),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=10),
)
@settings(max_examples=12, deadline=None)
def test_split_long_docs_reconstructs_exactly(spark, toks, max_tokens):
    import pandas as pd

    from dataquality_box_spark.operators.curation import split_long_docs

    overlap = max_tokens // 2
    stride = max_tokens - overlap
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [" ".join(toks)]})
    )
    chunks = sorted(
        split_long_docs(df, max_tokens=max_tokens, overlap=overlap).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # dropping each chunk's leading `overlap` tokens (except the first)
    # must reconstruct the doc exactly — no token lost or duplicated
    rebuilt = list(chunks[0]["chunk_text"].split())
    for c in chunks[1:]:
        rebuilt.extend(c["chunk_text"].split()[overlap:])
    assert rebuilt == toks
    # every chunk starts where stride arithmetic says it does
    for c in chunks:
        start = c["chunk_idx"] * stride
        assert c["chunk_text"].split() == toks[start : start + max_tokens]


@given(
    st.lists(
        st.lists(
            st.lists(st.sampled_from("ab"), min_size=1, max_size=2).map("".join),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=10, deadline=None)
def test_chunk_rewrite_matches_python_reference(spark, docs_toks, chunk):
    """chunk_dedup_rewrite == a direct first-occurrence reference over
    random corpora (tiny alphabet forces cross-doc and tail collisions)."""
    import pandas as pd

    from dataquality_box_spark.operators.corpus import chunk_dedup_rewrite

    def ref(docs, c):
        seen, out = set(), {}
        for doc_id, toks in enumerate(docs):
            kept, n_chunks = [], 0
            for i in range(0, len(toks), c):
                piece = " ".join(toks[i : i + c])
                n_chunks += 1
                if piece not in seen:
                    seen.add(piece)
                    kept.append(piece)
            out[doc_id] = (n_chunks, len(kept), " ".join(kept))
        return out

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(len(docs_toks)),
                "text": [" ".join(t) for t in docs_toks],
            }
        )
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in chunk_dedup_rewrite(df, chunk_tokens=chunk).collect()
    }
    assert got == ref(docs_toks, chunk)
