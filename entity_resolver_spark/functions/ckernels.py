"""Native batch kernels for pairwise string similarity (guide §4.2:
"do the heavy lifting in native code inside the UDF").

The Jaro-Winkler and Levenshtein pair kernels are the two hottest
per-row computations in the query surface (450M same-nation customer
pairs at sf1.0). This small C library, compiled once per host with the
system compiler and called through ctypes on raw Arrow buffers, is the
only implementation of either metric the engine runs: zero per-row
Python, zero per-row JVM<->Python conversions beyond the one Arrow
columnar transfer. (similarity.jaro_winkler_py is the pure-Python
reference the tests compare against.)

Numerical contract (the DuckDB oracles value-check both queries):

  * Levenshtein: exact integer edit distance over codepoints, capped
    at `cap` codepoints per side (== length(substring(s, 1, cap))).
    Common prefix/suffix stripping is a distance-preserving classic —
    the DP runs only over the differing core. lev_sim_expr keeps the
    similarity's exp() in Spark SQL; block_pairs_map('lev_sim6')
    computes it batch-side (see its docstring).
  * Jaro-Winkler: same operation order as jaro_winkler_py
    (m/la + m/lb + (m-t)/m)/3, boost for jaro > 0.7 — IEEE doubles on
    exact small integers, so results match the reference and DuckDB's
    jaro_winkler_similarity. The greedy match loop skips the common
    prefix: within a shared prefix the greedy assignment provably
    matches i<->i (induction: at step i < p every j < i is already
    matched, and b[i] == a[i] is unmatched and in-window), so prefix
    chars contribute p matches and 0 transpositions.

Compilation: cc -O3 -shared -fPIC into a content-addressed file under
the user cache dir. A C compiler is required on the driver and on
every executor; get_spark loads the library at session start, so a
missing `cc` fails there and not inside a task. Concurrent workers
race benignly (compile to a private temp name, os.rename is atomic).
Loading is cached per process (guide §4.5: heavyweight init once per
worker, not per batch).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np
import pyarrow as pa

_C_SOURCE = r"""
#include <stdint.h>

/* UTF-8 -> UTF-32 decode, capped at `cap` codepoints. Matches JVM/
   DuckDB codepoint semantics for valid UTF-8 input. */
static int utf8_decode(const unsigned char *s, long len, uint32_t *out, int cap) {
    long i = 0;
    int n = 0;
    while (i < len && n < cap) {
        unsigned char c = s[i];
        uint32_t cp;
        int k;
        if (c < 0x80)            { cp = c;        k = 1; }
        else if ((c >> 5) == 0x6){ cp = c & 0x1f; k = 2; }
        else if ((c >> 4) == 0xe){ cp = c & 0x0f; k = 3; }
        else                     { cp = c & 0x07; k = 4; }
        for (int j = 1; j < k && i + j < len; j++)
            cp = (cp << 6) | (s[i + j] & 0x3f);
        out[n++] = cp;
        i += k;
    }
    return n;
}

static double jw_pair(const uint32_t *a, int la, const uint32_t *b, int lb) {
    if (la == 0 || lb == 0) return 0.0;
    int w = (la > lb ? la : lb) / 2 - 1;
    if (w < 0) w = 0;
    int minl = la < lb ? la : lb;
    int p = 0;                       /* common prefix: greedy matches i<->i */
    while (p < minl && a[p] == b[p]) p++;
    unsigned char f1[64] = {0}, f2[64] = {0};
    int m = p;
    for (int i = p; i < la; i++) {
        int lo = i - w;
        if (lo < p) lo = p;          /* j < p are all matched already */
        int hi = i + w + 1;
        if (hi > lb) hi = lb;
        for (int j = lo; j < hi; j++) {
            if (!f2[j] && a[i] == b[j]) { f1[i] = 1; f2[j] = 1; m++; break; }
        }
    }
    if (m == 0) return 0.0;
    int t = 0, k = p;                /* prefix contributes 0 transpositions */
    for (int i = p; i < la; i++) {
        if (f1[i]) {
            while (!f2[k]) k++;
            if (a[i] != b[k]) t++;
            k++;
        }
    }
    t /= 2;
    double dm = (double)m;
    double jaro = (dm / la + dm / lb + (dm - t) / dm) / 3.0;
    if (jaro <= 0.7) return jaro;
    int pref = p < 4 ? p : 4;
    return jaro + (double)pref * 0.1 * (1.0 - jaro);
}

static int32_t lev_pair(const uint32_t *a, int la, const uint32_t *b, int lb) {
    while (la > 0 && lb > 0 && *a == *b) { a++; b++; la--; lb--; }
    while (la > 0 && lb > 0 && a[la - 1] == b[lb - 1]) { la--; lb--; }
    if (la == 0) return lb;
    if (lb == 0) return la;
    int32_t row[257];
    for (int j = 0; j <= lb; j++) row[j] = j;
    for (int i = 1; i <= la; i++) {
        int32_t prev = row[0];
        row[0] = i;
        uint32_t ca = a[i - 1];
        for (int j = 1; j <= lb; j++) {
            int32_t cur = row[j];
            int32_t best = prev + (ca != b[j - 1]);
            int32_t del = row[j] + 1;
            if (del < best) best = del;
            int32_t ins = row[j - 1] + 1;
            if (ins < best) best = ins;
            row[j] = best;
            prev = cur;
        }
    }
    return row[lb];
}

/* Decode a whole Arrow string column into an n x cap UTF-32 matrix +
   per-row codepoint lengths (capped). One decode per row per TASK —
   block pair kernels then reuse rows across every pair. */
void decode_block(const unsigned char *data, const int32_t *offs, long n,
                  int cap, uint32_t *out, int32_t *lens) {
    for (long r = 0; r < n; r++)
        lens[r] = utf8_decode(data + offs[r], offs[r + 1] - offs[r],
                              out + r * cap, cap);
}

/* Emit all (i, j) pairs with i < j, i % n_slices == slice and
   keys[i] != keys[j] (rows sorted by key ascending, so key[i] < key[j]
   becomes i < j plus the != guard for duplicates), scoring each with
   Jaro-Winkler. Returns the emitted count; callers allocate the upper
   bound sum_{i = slice mod n_slices} (n-1-i). */
long jw_block(const uint32_t *mat, const int32_t *lens, const int64_t *keys,
              int cap, long n, int slice, int n_slices,
              int32_t *oi, int32_t *oj, double *oval) {
    long out = 0;
    for (long i = slice; i < n; i += n_slices) {
        const uint32_t *a = mat + i * cap;
        int la = lens[i];
        for (long j = i + 1; j < n; j++) {
            if (keys[i] == keys[j]) continue;
            oi[out] = (int32_t)i;
            oj[out] = (int32_t)j;
            oval[out] = jw_pair(a, la, mat + j * cap, lens[j]);
            out++;
        }
    }
    return out;
}

/* Same pair enumeration, Levenshtein distance. */
long lev_block(const uint32_t *mat, const int32_t *lens, const int64_t *keys,
               int cap, long n, int slice, int n_slices,
               int32_t *oi, int32_t *oj, int32_t *od) {
    long out = 0;
    for (long i = slice; i < n; i += n_slices) {
        const uint32_t *a = mat + i * cap;
        int la = lens[i];
        for (long j = i + 1; j < n; j++) {
            if (keys[i] == keys[j]) continue;
            oi[out] = (int32_t)i;
            oj[out] = (int32_t)j;
            od[out] = lev_pair(a, la, mat + j * cap, lens[j]);
            out++;
        }
    }
    return out;
}

/* Batch over Arrow string buffers: data + int32 offsets (absolute into
   data; offs[0] need not be 0 for sliced arrays). */
void jw_batch(const unsigned char *da, const int32_t *oa,
              const unsigned char *db, const int32_t *ob,
              long n, double *out) {
    uint32_t ua[64], ub[64];
    for (long r = 0; r < n; r++) {
        int la = utf8_decode(da + oa[r], oa[r + 1] - oa[r], ua, 64);
        int lb = utf8_decode(db + ob[r], ob[r + 1] - ob[r], ub, 64);
        out[r] = jw_pair(ua, la, ub, lb);
    }
}

void lev_batch(const unsigned char *da, const int32_t *oa,
               const unsigned char *db, const int32_t *ob,
               long n, int cap,
               int32_t *out_d, int32_t *out_la, int32_t *out_lb) {
    uint32_t ua[256], ub[256];
    if (cap > 256) cap = 256;
    for (long r = 0; r < n; r++) {
        int la = utf8_decode(da + oa[r], oa[r + 1] - oa[r], ua, cap);
        int lb = utf8_decode(db + ob[r], ob[r + 1] - ob[r], ub, cap);
        out_la[r] = la;
        out_lb[r] = lb;
        out_d[r] = lev_pair(ua, la, ub, lb);
    }
}
"""

_LIB: ctypes.CDLL | None = None


def _so_path() -> str:
    tag = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), "entity_resolver_ckernels")
    os.makedirs(cache, exist_ok=True)
    return os.path.join(cache, f"simkernels_{tag}.so")


def load_lib() -> ctypes.CDLL:
    """Compile (once per host, content-addressed) and load the kernel
    library. Safe under concurrent workers: each compiles to a private
    temp file and atomically renames into place. Raises RuntimeError
    (with the compiler's stderr) when `cc` is missing or fails — there
    is no non-native fallback."""
    global _LIB
    if _LIB is not None:
        return _LIB
    so = _so_path()
    if not os.path.exists(so):
        with tempfile.NamedTemporaryFile(
            "w", suffix=".c", dir=os.path.dirname(so), delete=False
        ) as f:
            f.write(_C_SOURCE)
            csrc = f.name
        tmp_so = csrc[:-2] + ".so"
        try:
            try:
                proc = subprocess.run(
                    ["cc", "-O3", "-shared", "-fPIC", "-o", tmp_so, csrc],
                    capture_output=True, text=True,
                )
                err = proc.stderr if proc.returncode else None
            except OSError as e:  # no `cc` on PATH
                err = str(e)
            if err is not None:
                raise RuntimeError(
                    "compiling the string kernels with `cc` failed; a C compiler"
                    f" is required on the driver and on every executor:\n{err}"
                )
            os.rename(tmp_so, so)
        finally:
            os.unlink(csrc)
    lib = ctypes.CDLL(so)
    lib.jw_batch.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_long, ctypes.c_void_p,
    ]
    lib.lev_batch.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_long, ctypes.c_int,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
    ]
    lib.decode_block.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_long, ctypes.c_int,
        ctypes.c_void_p, ctypes.c_void_p,
    ]
    _blk = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_int, ctypes.c_long, ctypes.c_int, ctypes.c_int,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
    ]
    lib.jw_block.argtypes = _blk
    lib.jw_block.restype = ctypes.c_long
    lib.lev_block.argtypes = _blk
    lib.lev_block.restype = ctypes.c_long
    _LIB = lib
    return lib


def _string_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets int32 view starting at arr.offset, data bytes view) of a
    pyarrow string array. Nulls still carry valid offsets in Arrow, so
    the kernel can run over them; null outputs are fixed up after."""
    if pa.types.is_large_string(arr.type):  # pragma: no cover - Spark sends utf8
        arr = arr.cast(pa.string())
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return offs, data


def _ptr(a: np.ndarray) -> ctypes.c_void_p:
    return ctypes.c_void_p(a.ctypes.data if a.size else None)


def jw_arrow(a: pa.Array, b: pa.Array) -> pa.Array:
    """Jaro-Winkler over two Arrow string arrays -> float64 array.
    Null on either side -> 0.0 (the former kernel's convention)."""
    lib = load_lib()
    n = len(a)
    out = np.empty(n, dtype=np.float64)
    oa, da = _string_buffers(a)
    ob, db = _string_buffers(b)
    lib.jw_batch(_ptr(da), _ptr(oa), _ptr(db), _ptr(ob), n, _ptr(out))
    if a.null_count or b.null_count:
        nulls = pa.compute.or_(a.is_null(), b.is_null()).to_numpy(zero_copy_only=False)
        out[nulls] = 0.0
    return pa.array(out)


def lev_arrow(a: pa.Array, b: pa.Array, cap: int = 256) -> tuple[pa.Array, pa.Array, pa.Array]:
    """Levenshtein distance over two Arrow string arrays, capped at
    `cap` codepoints per side -> (distance int32, len_a int32, len_b
    int32) where the lengths are the capped codepoint counts (==
    length(substring(s, 1, cap))). Null on either side -> null distance
    (matches levenshtein()'s null propagation)."""
    lib = load_lib()
    n = len(a)
    out_d = np.empty(n, dtype=np.int32)
    out_la = np.empty(n, dtype=np.int32)
    out_lb = np.empty(n, dtype=np.int32)
    oa, da = _string_buffers(a)
    ob, db = _string_buffers(b)
    lib.lev_batch(
        _ptr(da), _ptr(oa), _ptr(db), _ptr(ob), n, cap,
        _ptr(out_d), _ptr(out_la), _ptr(out_lb),
    )
    if a.null_count or b.null_count:
        mask = pa.compute.or_(a.is_null(), b.is_null())
        return (
            pa.array(out_d, mask=mask.to_numpy(zero_copy_only=False)),
            pa.array(out_la, mask=a.is_null().to_numpy(zero_copy_only=False)),
            pa.array(out_lb, mask=b.is_null().to_numpy(zero_copy_only=False)),
        )
    return pa.array(out_d), pa.array(out_la), pa.array(out_lb)


def spark_round(x: np.ndarray, scale: int) -> np.ndarray:
    """round(double, scale) with EXACTLY Spark's semantics
    (BigDecimal.valueOf(x).setScale(scale, HALF_UP): decimal HALF_UP on
    the shortest round-trip decimal representation), vectorized.

    Spark's implementation allocates a BigDecimal per row (~25ns/row of
    math plus allocation + GC; measured ~12s over the 450M-row pair
    table). Fast path: floor(|x|*10^s + 0.5)/10^s. Both it and the
    BigDecimal path equal true-decimal-rounding of the exact binary
    value whenever that value is farther from a decimal midpoint than
    their representation errors (shortest-repr: < 0.5 ulp; scaled
    multiply: ~1e-12 at |x|*10^s <= 1e4), so they can only disagree
    inside a ~1e-12 window around midpoints; every value within a
    generous 1e-8 window is re-done with Decimal(repr(x)) — repr is the
    same shortest round-trip decimal Java's Double.toString produces —
    making the result bit-identical to F.round for every input."""
    from decimal import ROUND_HALF_UP, Decimal

    p = 10.0 ** scale
    ax = np.abs(x)
    y = ax * p
    out = np.copysign(np.floor(y + 0.5) / p, x)
    finite = np.isfinite(x)
    frac = y - np.floor(y)
    suspicious = finite & (np.abs(frac - 0.5) < 1e-8)
    if suspicious.any():
        q = Decimal(1).scaleb(-scale)
        for i in np.nonzero(suspicious)[0]:
            out[i] = float(
                Decimal(repr(float(x[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    if not finite.all():
        out[~finite] = x[~finite]
    return out


def block_pairs_map(
    metric: str,
    block_col: str,
    slice_col: str,
    id_col: str,
    name_col: str,
    n_slices: int,
    cap: int = 64,
    out_rows: int = 1 << 20,
):
    """mapInArrow factory that GENERATES same-block pairs inside the C
    kernel instead of shipping a JVM-joined pair table through Arrow.

    Rationale (measured at sf1.0, 450M same-nation customer pairs): the
    JVM -> Python Arrow serialization of the joined pair rows costs
    ~130-170s on 8 cores — 10x the pair generation and 20x the C metric
    itself — while Python -> JVM for the same row count costs ~10s. So
    ship the 150k base rows in (replicated once per work slice) and
    stream the scored pairs out.

    Input contract: rows carry (block_col: integral, slice_col: int in
    [0, n_slices), id_col: integral, name_col: string), with each base
    row replicated once per slice value and the frame repartitioned by
    (block, slice) so a group never spans partitions. For each group
    the kernel emits every pair id_i < id_j within the block (slice s
    takes the i = s mod n_slices rows of the key-sorted block — modulo
    striping balances the triangular workload), so the union over
    slices is exactly the same-block id_a < id_b pair set.

    metric: 'jw'  -> columns (id_a, id_b, jw_raw double); null names
                     score 0.0 like the batch kernel.
            'jw4' -> columns (id_a, id_b, jw double): jw_raw rounded to
                     4 decimals with spark_round — bit-identical to
                     F.round(jw_raw, 4), which cost ~12s/450M rows of
                     per-row BigDecimal in the JVM.
            'lev' -> columns (id_a, id_b, lev int32, len_a, len_b)
                     with capped codepoint lengths; pairs touching a
                     null name get null lev (levenshtein() semantics).
            'lev_sim6' -> columns (id_a, id_b, lev_sim double):
                     round(denom == 0 ? 1.0 : exp(-2*lev/denom), 6)
                     with denom = capped len_a + len_b — the full K1
                     similarity. exp comes from libm (the same library
                     the DuckDB oracle uses) instead of Java Math.exp;
                     both are within 1 ulp of each other, and equality
                     of the rounded values is verified against the
                     oracle at every checked SF. Null-name pairs get
                     null (levenshtein() propagation).
    """
    if metric not in ("jw", "jw4", "lev", "lev_sim6"):
        raise ValueError(metric)

    def fn(batches):
        lib = load_lib()
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        n = len(tbl)
        if n == 0:
            return
        blocks = tbl.column(block_col).to_numpy(zero_copy_only=False).astype(np.int64)
        slices = tbl.column(slice_col).to_numpy(zero_copy_only=False).astype(np.int64)
        keys = tbl.column(id_col).to_numpy(zero_copy_only=False)
        names = tbl.column(name_col).combine_chunks()
        nulls = (
            names.is_null().to_numpy(zero_copy_only=False)
            if names.null_count
            else None
        )
        offs, data = _string_buffers(names)
        # UTF-8 byte length bounds codepoint length, so shrinking the
        # matrix stride to the longest observed string is lossless —
        # with cap=256 and 18-char names this cuts decode/copy traffic
        # 14x.
        # The C kernels keep fixed stack buffers (jw_pair: 64 flags per
        # side, lev_pair: a 257-entry DP row), so the stride is also
        # clamped to what each kernel can hold.
        max_bytes = int(np.max(np.diff(offs.astype(np.int64)))) if n else 1
        eff_cap = max(1, min(cap, max_bytes, 64 if metric in ("jw", "jw4") else 256))
        mat = np.empty((n, eff_cap), dtype=np.uint32)
        lens = np.empty(n, dtype=np.int32)
        lib.decode_block(_ptr(data), _ptr(offs), n, eff_cap, _ptr(mat), _ptr(lens))

        # block ids must fit 31 bits here (nation keys do; wider ids
        # would need a composite sort) — slices get the low 32 so any
        # realistic n_slices (= cluster parallelism) cannot collide
        order = np.lexsort((keys, (blocks << 32) | slices))
        gid = (blocks[order] << 32) | slices[order]
        starts = np.concatenate(
            [[0], np.flatnonzero(np.diff(gid)) + 1, [n]]
        )
        kernel = lib.jw_block if metric in ("jw", "jw4") else lib.lev_block
        for g in range(len(starts) - 1):
            st, en = int(starts[g]), int(starts[g + 1])
            idx = order[st:en]
            n_g = en - st
            s = int(slices[idx[0]])
            gk = keys[idx]                      # ascending (lexsort)
            gk64 = np.ascontiguousarray(gk.astype(np.int64))
            gm = np.ascontiguousarray(mat[idx])
            gl = np.ascontiguousarray(lens[idx])
            i_starts = np.arange(s, n_g, n_slices, dtype=np.int64)
            max_out = int((n_g - 1 - i_starts).sum()) if len(i_starts) else 0
            if max_out <= 0:
                continue
            oi = np.empty(max_out, dtype=np.int32)
            oj = np.empty(max_out, dtype=np.int32)
            if metric in ("jw", "jw4"):
                ov = np.empty(max_out, dtype=np.float64)
            else:
                ov = np.empty(max_out, dtype=np.int32)
            cnt = kernel(
                _ptr(gm), _ptr(gl), _ptr(gk64), eff_cap, n_g, s, n_slices,
                _ptr(oi), _ptr(oj), _ptr(ov),
            )
            oi, oj, ov = oi[:cnt], oj[:cnt], ov[:cnt]
            ka, kb = gk[oi], gk[oj]
            if metric == "jw":
                cols = [ka, kb, ov]
                names_out = ["id_a", "id_b", "jw_raw"]
                arrays = [pa.array(x) for x in cols]
            elif metric == "jw4":
                arrays = [pa.array(ka), pa.array(kb), pa.array(spark_round(ov, 4))]
                names_out = ["id_a", "id_b", "jw"]
            elif metric == "lev_sim6":
                la = gl[oi].astype(np.float64)
                lb = gl[oj].astype(np.float64)
                denom = la + lb
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = np.exp((ov.astype(np.float64) * -2.0) / denom)
                sim = np.where(denom == 0.0, 1.0, sim)
                sim = spark_round(sim, 6)
                if nulls is not None:
                    gn = nulls[idx]
                    pair_null = gn[oi] | gn[oj]
                    arrays = [pa.array(ka), pa.array(kb), pa.array(sim, mask=pair_null)]
                else:
                    arrays = [pa.array(ka), pa.array(kb), pa.array(sim)]
                names_out = ["id_a", "id_b", "lev_sim"]
            else:
                la, lb = gl[oi], gl[oj]
                if nulls is not None:
                    gn = nulls[idx]
                    pair_null = gn[oi] | gn[oj]
                    arrays = [
                        pa.array(ka), pa.array(kb),
                        pa.array(ov, mask=pair_null),
                        pa.array(la, mask=gn[oi]), pa.array(lb, mask=gn[oj]),
                    ]
                else:
                    arrays = [pa.array(x) for x in (ka, kb, ov, la, lb)]
                names_out = ["id_a", "id_b", "lev", "len_a", "len_b"]
            for lo in range(0, cnt, out_rows):
                hi = min(lo + out_rows, cnt)
                yield pa.RecordBatch.from_arrays(
                    [arr.slice(lo, hi - lo) for arr in arrays], names=names_out
                )

    return fn

