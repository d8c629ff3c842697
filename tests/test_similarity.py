"""Pairwise kernels vs DuckDB oracles (FIXTURES.md F5)."""

import math

import duckdb
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from entity_resolver_spark.functions.similarity import (
    dense_cosine_expr,
    jaro_winkler_py,
    jw_expr,
    lev_sim_expr,
    sparse_cosine_udf,
    token_overlap_cosine_expr,
)

PAIRS = [
    ("kitten", "sitting"),
    ("", ""),
    ("", "abc"),
    ("a", "b"),
    ("ab", "ba"),
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("identical string", "identical string"),
    ("unicode café", "unicode cafe"),
    ("DWAYNE", "DUANE"),
    ("x" * 100, "x" * 99 + "y"),
    ("emoji 😀 grin", "emoji 😃 grin"),  # non-BMP: 4-byte UTF-8
    ("x" * 250 + "abcdefghij" * 5, "x" * 250 + "jihgfedcba" * 5),  # 300 codepoints
]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_lev_sim_matches_reference_formula(spark):
    df = spark.createDataFrame(PAIRS, "a string, b string")
    rows = df.select("a", "b", lev_sim_expr(F.col("a"), F.col("b")).alias("s")).collect()
    con = duckdb.connect()
    for r in rows:
        # lev_sim_expr caps each side at 256 codepoints by default
        a, b = r["a"][:256], r["b"][:256]
        if len(a) + len(b) == 0:
            assert r["s"] == 1.0
            continue
        # Spark levenshtein is codepoint-based; DuckDB's is byte-based,
        # so the DuckDB cross-check only applies to ASCII pairs
        lev = _lev(a, b)
        if a.isascii() and b.isascii():
            assert lev == con.execute("select levenshtein(?, ?)", [a, b]).fetchone()[0]
        expect = math.exp(-2.0 * lev / (len(a) + len(b)))
        assert abs(r["s"] - expect) < 1e-12


def test_canonical_lev_matrix_matches_reference():
    """canonical._lev_matrix (one C-kernel call over a group's i<j
    pairs) equals the pure-Python reference on seeded random strings up
    to the canonical gate's LEV_MAX_CHARS codepoints, non-BMP ones
    included."""
    import random

    import numpy as np

    from entity_resolver_spark.operators.canonical import LEV_MAX_CHARS, _lev_matrix

    rng = random.Random(11)
    alphabet = "abcab xyz\u00e9\u4e2d\U0001f600\U0001f603"
    for _ in range(8):
        strings = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, LEV_MAX_CHARS)))
            for _ in range(rng.randint(2, 12))
        ]
        strings.append(strings[0][: LEV_MAX_CHARS // 2] + "\U0001f600" * 3)
        got = _lev_matrix(strings)
        want = np.array([[_lev(a, b) for b in strings] for a in strings], dtype=np.float64)
        assert np.array_equal(got, want)


@pytest.mark.parametrize("a,b", PAIRS)
def test_jaro_winkler_matches_duckdb(a, b):
    if not (a.isascii() and b.isascii()):
        pytest.skip("DuckDB JW is byte-based; ours is codepoint-based")
    got = jaro_winkler_py(a, b)
    want = duckdb.connect().execute(
        "select jaro_winkler_similarity(?, ?)", [a, b]
    ).fetchone()[0]
    assert abs(got - want) < 1e-9, (a, b, got, want)


@settings(max_examples=150, deadline=None)
@given(
    st.text(alphabet="abcdef ", max_size=20),
    st.text(alphabet="abcdef ", max_size=20),
)
def test_jaro_winkler_property_vs_duckdb(a, b):
    got = jaro_winkler_py(a, b)
    want = duckdb.connect().execute(
        "select jaro_winkler_similarity(?, ?)", [a, b]
    ).fetchone()[0]
    assert abs(got - want) < 1e-9


def test_jw_udf(spark):
    df = spark.createDataFrame(PAIRS, "a string, b string")
    rows = df.select("a", "b", jw_expr(F.col("a"), F.col("b")).alias("s")).collect()
    for r in rows:
        assert abs(r["s"] - jaro_winkler_py(r["a"][:64], r["b"][:64])) < 1e-9


def test_dense_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]),
         ([0.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    got = [r["c"] for r in df.select(dense_cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == 0.0  # zero vector convention


def test_sparse_cosine(spark):
    rows = [
        ([1, 5, 9], [0.6, 0.8, 0.0], [5, 9], [1.0, 0.0], 0.8),
        ([1], [1.0], [2], [1.0], 0.0),
        ([3, 4], [0.707107, 0.707107], [3, 4], [0.707107, 0.707107], 1.0),
    ]
    df = spark.createDataFrame(
        [(a, b, c, d) for a, b, c, d, _ in rows],
        "ia array<bigint>, va array<double>, ib array<bigint>, vb array<double>",
    )
    got = df.select(
        sparse_cosine_udf(F.col("ia"), F.col("va"), F.col("ib"), F.col("vb")).alias("c")
    ).collect()
    for g, (_, _, _, _, want) in zip(got, rows):
        assert g["c"] == pytest.approx(want, abs=1e-5)


def test_token_overlap(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c", "d"], ["c", "d", "e", "f"])],
        "ta array<string>, tb array<string>",
    )
    got = df.select(token_overlap_cosine_expr(F.col("ta"), F.col("tb")).alias("c")).first()["c"]
    assert got == pytest.approx(2 / 4)


def test_spark_round_matches_f_round(spark):
    """spark_round (the batch-side replica used by the r6 pair kernels)
    must be bit-identical to F.round for doubles — including values
    ULP-adjacent to decimal midpoints, where the fast scaled-floor path
    defers to the Decimal(repr) fallback."""
    import numpy as np

    from entity_resolver_spark.functions.ckernels import spark_round

    rng = np.random.default_rng(3)
    vals = list(rng.random(4000)) + [0.0, 1.0, 0.99995, 0.100049999999]
    for k in range(0, 10000, 37):
        m = (k + 0.5) / 10000.0
        vals += [
            m, float(np.nextafter(m, 0)), float(np.nextafter(m, 2)),
            m + 1e-13, m - 1e-13,
        ]
    for scale in (4, 6):
        arr = np.array(vals, dtype=np.float64)
        got = spark_round(arr, scale).tolist()
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        want = [r[0] for r in df.select(F.round("x", scale)).collect()]
        assert got == want


def test_block_pairs_kernel_rounded_matches_expr(spark):
    """The jw4/lev_sim6 kernel outputs must equal the expression forms
    (F.round(jw_expr), round(exp(-2*lev/denom), 6)) on a small block."""
    import pyarrow as pa

    from entity_resolver_spark.functions import ckernels

    names = ["alpha beta", "alpha betta", "gamma", "alpha  beta", "x", ""]
    rows = [(0, s, i, n) for i, n in enumerate(names) for s in range(2)]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.int64()),
            pa.array([r[1] for r in rows], pa.int32()),
            pa.array([r[2] for r in rows], pa.int64()),
            pa.array([r[3] for r in rows], pa.string()),
        ],
        names=["blk", "sl", "id", "nm"],
    )
    got = {}
    for metric, col in (("jw4", "jw"), ("lev_sim6", "lev_sim")):
        fn = ckernels.block_pairs_map(metric, "blk", "sl", "id", "nm", 2, cap=256)
        out = pa.Table.from_batches(list(fn(iter([batch]))))
        got[col] = {
            (a, b): v
            for a, b, v in zip(
                out.column("id_a").to_pylist(),
                out.column("id_b").to_pylist(),
                out.column(col).to_pylist(),
            )
        }
    n = len(names)
    assert set(got["jw"]) == {(i, j) for i in range(n) for j in range(i + 1, n)}
    from entity_resolver_spark.functions.similarity import jw_expr, lev_sim_expr

    df = spark.createDataFrame(
        [(i, j, names[i], names[j]) for i in range(n) for j in range(i + 1, n)],
        "ia long, ib long, na string, nb string",
    )
    want = df.select(
        "ia", "ib",
        F.round(jw_expr(F.col("na"), F.col("nb")), 4).alias("jw"),
        F.round(lev_sim_expr(F.col("na"), F.col("nb")), 6).alias("lev_sim"),
    ).collect()
    for r in want:
        assert got["jw"][(r["ia"], r["ib"])] == r["jw"]
        assert got["lev_sim"][(r["ia"], r["ib"])] == r["lev_sim"]


def _block_pairs(metric, names, cap):
    import pyarrow as pa

    from entity_resolver_spark.functions import ckernels

    n = len(names)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([0] * n, pa.int64()),
            pa.array([0] * n, pa.int32()),
            pa.array(range(n), pa.int64()),
            pa.array(names, pa.string()),
        ],
        names=["blk", "sl", "id", "nm"],
    )
    fn = ckernels.block_pairs_map(metric, "blk", "sl", "id", "nm", 1, cap=cap)
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    return sorted(zip(*out.to_pydict().values()))


@pytest.mark.parametrize("metric", ["jw", "jw4", "lev", "lev_sim6"])
def test_block_pairs_long_names_respect_kernel_buffers(metric):
    """Names longer than the C kernels' fixed buffers (jw_pair: 64
    codepoints per side, lev_pair: 256) must be clamped, not overflow
    the stack: a cap above the buffer gives the same output as a cap
    at it."""
    import random

    rng = random.Random(7)
    names = ["".join(rng.choice("abcde") for _ in range(300)) for _ in range(40)]
    limit = 64 if metric.startswith("jw") else 256
    want = _block_pairs(metric, names, limit)
    assert len(want) == 40 * 39 // 2
    for cap in (256, 1024):
        assert _block_pairs(metric, names, cap) == want


@pytest.mark.parametrize("cc_script", [None, "#!/bin/sh\necho 'fatal: no space left' >&2\nexit 1\n"])
def test_load_lib_without_compiler_raises(monkeypatch, tmp_path, cc_script):
    """A missing or failing `cc` is one RuntimeError naming the compiler
    and carrying its stderr — not a FileNotFoundError."""
    from entity_resolver_spark.functions import ckernels

    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    if cc_script is not None:
        (bin_dir / "cc").write_text(cc_script)
        (bin_dir / "cc").chmod(0o755)
    monkeypatch.setenv("PATH", str(bin_dir))
    monkeypatch.setattr(ckernels, "_so_path", lambda: str(tmp_path / "kernels.so"))
    monkeypatch.setattr(ckernels, "_LIB", None)  # restored on teardown
    with pytest.raises(RuntimeError, match="`cc`") as exc:
        ckernels.load_lib()
    if cc_script is not None:
        assert "fatal: no space left" in str(exc.value)
    assert not (tmp_path / "kernels.so").exists()
