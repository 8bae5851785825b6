"""Hypothesis property test for ``builder.runs``, the one run walker of
the pack, repack and WAND kernels: over any cut of a frame into pandas
batches — empty batches and cuts inside a run included — the yielded
(key, columns) sequence equals ``itertools.groupby`` over the
concatenated frame, for string+int and int+int keys."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from legal_text_retrieval_spark.index.builder import runs

KEY_VALUES = {
    "str_int": (st.sampled_from(["a", "b", "q10"]), st.integers(0, 2)),
    "int_int": (st.integers(0, 2), st.integers(0, 2)),
}


@st.composite
def frames(draw):
    k0, k1 = KEY_VALUES[draw(st.sampled_from(sorted(KEY_VALUES)))]
    keys = draw(st.lists(st.tuples(k0, k1), max_size=40))
    n = len(keys)
    pdf = pd.DataFrame({
        "k0": pd.Series([k[0] for k in keys], dtype=object if n and isinstance(keys[0][0], str)
                        else np.int64),
        "k1": np.array([k[1] for k in keys], dtype=np.int64),
        "v": np.arange(n, dtype=np.int64) * 7,
        "buf": pd.Series([bytes([i % 256]) * (i % 3) for i in range(n)], dtype=object),
    })
    # cuts with repeats and at either end: empty batches
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=8)))
    return pdf, cuts


@given(frames())
@settings(max_examples=300, deadline=None)
def test_runs_equals_groupby_over_concatenation(case):
    pdf, cuts = case
    edges = [0, *cuts, len(pdf)]
    batches = [pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(edges, edges[1:])]

    got = list(runs(iter(batches), ("k0", "k1"), ("v", "buf")))

    rows = list(zip(pdf["k0"], pdf["k1"], pdf["v"], pdf["buf"]))
    want = [
        (key, [r[2:] for r in grp])
        for key, grp in ((k, list(g)) for k, g in itertools.groupby(rows, key=lambda r: r[:2]))
    ]
    assert [key for key, _ in got] == [key for key, _ in want]
    for (_, cols), (_, grp) in zip(got, want):
        assert cols["v"].tolist() == [r[0] for r in grp]
        assert cols["buf"].tolist() == [r[1] for r in grp]
