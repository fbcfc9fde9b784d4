"""Arrow-batched (pandas UDF) kernels.

NOTE: deliberately NO ``from __future__ import annotations`` here — pandas_udf
resolves the function's type hints at decoration time, and PEP-563 stringified
annotations make it fail with UNSUPPORTED_SIGNATURE.
"""
import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def make_row_agg_udf(aggfunc, col_labels, args=(), kwargs=None):
    """Row-wise arbitrary-callable aggregate for ``add_agg(axis=1)``.

    The reference reaches callables on axis=1 by transposing and calling
    ``df.agg(func)`` (``flatbread/tooling.py:31-43``); a transpose is a
    non-starter at scale, so here each Arrow batch is reshaped to a
    (batch, n_cols) frame and ``DataFrame.agg(func, axis=1)`` runs the
    callable per row with the column labels as the Series index — the same
    Series the reference's transposed path passes. Arrow-batched transfer;
    the callable itself is the documented Python slow path.

    Returns a pandas UDF: array<double> -> double.
    """
    kwargs = kwargs or {}
    labels = list(col_labels)

    @pandas_udf("double")
    def row_agg(vals: pd.Series) -> pd.Series:
        mat = pd.DataFrame(
            np.stack([np.asarray(v, dtype=np.float64) for v in vals.to_numpy()]),
            columns=labels,
        )
        out = mat.agg(aggfunc, 1, *args, **kwargs)
        return pd.Series(np.asarray(out, dtype=np.float64))

    return row_agg


def make_bucket_udf(planes_mat, tables: int, nbits: int):
    """Sign-LSH bucket assignment for all tables in one matmul per batch.

    planes_mat: (tables*nbits, dim) float64 — stacked hyperplanes.
    Returns a pandas UDF: array<float> -> array<bigint> (one bucket/table).
    """
    weights = 1 << np.arange(nbits, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def all_buckets(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (V @ planes_mat.T) > 0                     # (batch, tables*nbits)
        bits = bits.reshape(len(V), tables, nbits)
        buckets = (bits * weights).sum(axis=2)            # (batch, tables)
        return pd.Series(list(buckets))

    return all_buckets


def make_simhash_udf(nbits: int):
    """Per-document SimHash signature from an array of shingle hashes.

    SimHash is a per-row function of the document's own shingles — it needs
    NO shuffle at all; the explode→groupBy(60 bit-vote sums) formulation
    existed only because pure-JVM per-bit votes require aggregation, and its
    60-aggregate plan paid seconds of codegen compile per query. Here each
    Arrow batch unpacks the hash bits in numpy (two's-complement uint64 view,
    identical to Spark's shiftrightunsigned) and votes vectorized.

    Returns a pandas UDF: array<bigint> -> bigint (bit i set iff vote > 0,
    matching ``_votes_to_sig`` exactly, including the nbits=64 sign bit).
    """
    shifts = np.arange(nbits, dtype=np.uint64)

    @pandas_udf("long")
    def simhash(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes.to_numpy()):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if len(h) == 0:
                continue
            bits = (h[:, None] >> shifts) & np.uint64(1)      # (n, nbits)
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(h)
            sig = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out[i] = sig.astype(np.int64)                     # wraps bit 63
        return pd.Series(out)

    return simhash


def make_minhash_udf(coeffs, prime: int):
    """Per-document MinHash signature from an array of shingle hashes.

    h_i(x) = (a_i * (|x| mod p) + b_i) mod p, minimum over the shingle set —
    the same universal-hash math as the SQL oracle, vectorized as one
    (n_shingles, num_hashes) broadcast per document. Per-row like SimHash:
    no explode, no shuffle, no num_hashes-aggregate plan. Products stay
    under 2^62 (h, a, b < 2^31), inside int64.

    Returns a pandas UDF: array<bigint> -> array<bigint>.
    """
    A = np.asarray([a for a, _ in coeffs], dtype=np.int64)
    B = np.asarray([b for _, b in coeffs], dtype=np.int64)
    P = np.int64(prime)

    @pandas_udf("array<bigint>")
    def minhash(hashes: pd.Series) -> pd.Series:
        out = []
        for arr in hashes.to_numpy():
            h = np.abs(np.asarray(arr, dtype=np.int64)) % P
            if len(h) == 0:
                out.append(B % P)
                continue
            out.append(((h[:, None] * A + B) % P).min(axis=0))
        return pd.Series(out)

    return minhash


def make_knn_shortlist_fn(q_ids, q_vecs, depth: int, score: str = "cosine",
                          chunk: int = 4096):
    """All-pairs candidate shortlist for the similarity operators.

    One numpy matmul per ``chunk``-row corpus slab scores the slab against
    every query whose vector has the slab row's length, so only candidate
    rows ever leave the scan. ``score`` picks the fast score:
    ``"cosine"`` (double cosine of float vectors) or ``"int8"`` (the exact
    int64 dot of int8 codes, emitted as BIGINT).

    Selection is a deterministic SUPERSET of the global shortlist: per
    slab and query, every corpus row whose score is >= the slab's
    ``depth``-th largest is emitted (boundary ties are ALL kept, so the
    downstream (score desc, neighbor asc) window trims to exactly the
    global top-``depth`` set whatever the slab boundaries). Self-pairs
    (corpus id == query id) are excluded. A row or query with a NULL
    vector, a length no query (row) shares, or a NULL code is never
    scored — its expression-path score was NULL. NaN cosines (zero-norm
    vectors) map to +inf so those rows stay for the exact re-rank.

    The input frame has ``__nid`` and the scored vector ``__sv``; the
    output carries one payload column ``__cv`` (``__pl`` when the input
    has one, else ``__sv``) so the refine needs no second corpus scan.
    Returns a mapInPandas function for schema ``query_id <t>,
    neighbor_id <t>, __fast double|bigint, __cv <payload type>``.
    """
    int8 = score == "int8"
    q_ids = np.asarray(q_ids)
    by_dim = {}
    for i, v in enumerate(q_vecs):
        if v is not None:
            by_dim.setdefault(len(v), []).append(i)
    groups = []
    for dim, idx in by_dim.items():
        Q = _stack([q_vecs[i] for i in idx], dim)
        ok = np.isfinite(Q).all(axis=1) if int8 else np.ones(len(idx), bool)
        Q = Q[ok].astype(np.int64) if int8 else Q
        qn = np.sqrt((Q * Q).sum(axis=1))
        groups.append((dim, q_ids[np.asarray(idx)[ok]], Q, qn))

    def slab_scores(C, Q, qn):
        if int8:
            # exact integer dot; |dot| <= dim * 127^2 is exact in float64
            return (C.astype(np.int64) @ Q.T).astype(np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (C @ Q.T) / (cn[:, None] * qn[None, :])
        return np.where(np.isnan(S), np.inf, S)

    def shortlist(batches):
        for pdf in batches:
            ids_in = pdf["__nid"].to_numpy()
            vec_in = pdf["__sv"].to_numpy()
            pl_in = pdf["__pl" if "__pl" in pdf else "__sv"].to_numpy()
            lens = np.array([-1 if v is None else len(v) for v in vec_in])
            for dim, gq_ids, Q, qn in groups:
                rows = np.nonzero(lens == dim)[0]
                if len(rows) == 0 or len(Q) == 0:
                    continue
                C = _stack(vec_in[rows], dim)
                if int8:
                    fin = np.isfinite(C).all(axis=1)
                    rows, C = rows[fin], C[fin]
                for s in range(0, len(rows), chunk):
                    e = min(s + chunk, len(rows))
                    S = slab_scores(C[s:e], Q, qn)
                    slab_ids = ids_in[rows[s:e]]
                    self_mask = slab_ids[:, None] == gq_ids[None, :]
                    # self rows must not consume a slot nor be emitted
                    S[self_mask] = -np.inf
                    take = min(depth, S.shape[0])
                    vstar = np.partition(S, S.shape[0] - take, axis=0)[
                        S.shape[0] - take, :
                    ]
                    r, c = np.nonzero((S >= vstar[None, :]) & ~self_mask)
                    if len(r) == 0:
                        continue
                    fast = S[r, c]
                    yield pd.DataFrame(
                        {
                            "query_id": gq_ids[c],
                            "neighbor_id": slab_ids[r],
                            "__fast": fast.astype(np.int64) if int8 else fast,
                            "__cv": list(pl_in[rows[s:e]][r]),
                        }
                    )
        yield pd.DataFrame(
            {"query_id": q_ids[:0], "neighbor_id": q_ids[:0],
             "__fast": np.zeros(0, np.int64 if int8 else np.float64),
             "__cv": pd.Series([], dtype=object)}
        )

    return shortlist


def _stack(vecs, dim):
    """(n, dim) float64 matrix of equal-length vectors; NULL elements
    become NaN."""
    return np.array(
        [np.asarray(v, dtype=np.float64) for v in vecs], dtype=np.float64
    ).reshape(len(vecs), dim)


def make_pair_score_fn(threshold_slack, chunk: int = 2048):
    """In-group all-pairs cosine candidate scoring for ``applyInPandas``.

    One numpy matmul per LSH bucket / block group replaces an interpreted
    higher-order-function dot product per candidate PAIR (O(pairs x dim)
    interpreted ops — the measured bottleneck of embedding dedup). Rows are
    normalized once, then scored in ``chunk``-row slabs (U[s:e] @ U.T), so
    peak memory is O(chunk x group) regardless of group size — a hot bucket
    degrades to more slabs, not an OOM. Emits only (id_a, id_b) with
    id_a < id_b — compared on the id VALUES, not row indices, so duplicate
    ids never emit a self-pair — and fast cosine >= threshold_slack; the
    exact-decimal re-score downstream decides final values. Ids keep their
    input type (the caller's applyInPandas schema mirrors it); any type
    with a total order works (ints, strings).

    Returns a (pdf) -> pdf function for schema "id_a <t>, id_b <t>".
    """

    def score(pdf):
        m = len(pdf)
        ids_in = pdf["__id"].to_numpy()
        if m < 2:
            return pd.DataFrame({"id_a": ids_in[:0], "id_b": ids_in[:0]})
        order = np.argsort(ids_in, kind="stable")
        ids = ids_in[order]
        V = np.stack(pdf["__v"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        U = V / norms[:, None]
        out_a, out_b = [], []
        for s in range(0, m, chunk):
            e = min(s + chunk, m)
            C = U[s:e] @ U.T                       # (slab, m)
            r, c = np.nonzero(C >= threshold_slack)
            # ids sorted ascending: id-strict keeps exactly the upper
            # triangle AND drops equal-id (duplicate-row) self-pairs
            keep = ids[r + s] < ids[c]
            out_a.append(ids[r[keep] + s])
            out_b.append(ids[c[keep]])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a) if out_a else ids_in[:0],
             "id_b": np.concatenate(out_b) if out_b else ids_in[:0]}
        )

    return score


def make_ivf_probe_udf(cent_mat, cent_ids, nprobe: int):
    """Top-``nprobe`` IVF cells per vector by cosine, one matmul per batch.

    cent_mat: (n_cells, dim) float64 centroid matrix; cent_ids: cell id per
    row. Ties resolve to the lowest cell id (stable argsort over (-cos, id)).
    Returns a pandas UDF: array<float> -> array<int>.
    """
    cents = np.asarray(cent_mat, dtype=np.float64)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    ids = np.asarray(cent_ids, dtype=np.int64)
    id_order = np.argsort(ids, kind="stable")

    @pandas_udf("array<int>")
    def probe(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        cos = V @ cents.T                                  # (batch, n_cells)
        # sort by (-cos, id): reorder columns by id first, stable argsort
        order = np.argsort(-cos[:, id_order], axis=1, kind="stable")[:, :nprobe]
        out = ids[id_order][order]                         # (batch, nprobe)
        return pd.Series([row.astype("int32") for row in out])

    return probe


def make_kmeans_assign_udf(centroids):
    """Nearest-centroid assignment under the exact scaled-integer distance
    contract of ``operators/kmeans`` (oracle-matched in SQL): per-dim terms
    ``(x-c)*(x-c)*1e12`` HALF_UP-rounded to int64 and summed; ties break to
    the smallest centroid id (``argmin`` = first minimum).

    HALF_UP on a nonnegative double ``t < 2^52`` — what the JVM's
    ``round()`` computes via BigDecimal — is exactly
    ``floor(t) + (t - floor(t) >= 0.5)``: floor and the subtraction are
    exact in IEEE double at that magnitude, and the 0.5 comparison agrees
    between the double's exact value and its shortest decimal repr (0.5 is
    itself representable). So the kernel is bit-identical to the SQL path.

    Returns a pandas UDF: array<float> -> struct<cluster:int, d2:double>.
    Per-batch intermediate is (batch, k, dim) doubles — chunk upstream
    before raising k×dim by orders of magnitude.
    """
    C = np.asarray(centroids, dtype=np.float64)            # (k, dim)

    dim = C.shape[1]

    @pandas_udf("struct<cluster:int,d2:double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        vals = vecs.to_numpy()
        # null / ragged vectors -> null cluster+d2 (the expression path this
        # kernel replaced null-propagated instead of aborting the job)
        ok = np.array(
            [v is not None and len(v) == dim for v in vals], dtype=bool
        )
        out_c = np.full(len(vals), None, dtype=object)
        out_d = np.full(len(vals), None, dtype=object)
        if ok.any():
            V = np.stack(vals[ok]).astype(np.float64)      # (batch, dim)
            diff = V[:, None, :] - C[None, :, :]           # (batch, k, dim)
            t = diff * diff * 1e12
            fl = np.floor(t)
            terms = fl.astype(np.int64) + (t - fl >= 0.5)  # exact HALF_UP
            d2i = terms.sum(axis=2)                        # (batch, k) int64
            cluster = d2i.argmin(axis=1)
            d2 = d2i[np.arange(len(V)), cluster].astype(np.float64) / 1e12
            out_c[ok] = cluster.astype(np.int32)
            out_d[ok] = d2
        return pd.DataFrame({"cluster": out_c, "d2": out_d})

    return assign


def make_trigram_extract_udf(n=3):
    """Per-document char n-gram counts, row-local: one Counter pass over the
    (pre-lowered) text per row. Python dict ops beat the JVM HOF
    shift-and-zip extraction ~8× here because HOF lambdas pay per-element
    interpreted dispatch; the kernel is one Arrow batch in, two parallel
    arrays out. Counts by Python code points — supplementary-plane chars
    count 1 (JVM strings count 2); identical for BMP text, pre-lower in
    the JVM so case mapping stays engine-consistent.

    NOT vectorized (round 11, measured): the int64-packing + np.unique +
    bulk-decode form only beats this Counter loop above ~6-8k chars/doc
    (fixed per-row numpy overhead dominates below; testdata and typical
    web docs sit well under it) — the SCORE kernel vectorizes profitably
    because model lookups dominate there at every length, extraction does
    not. Crossover measured single-threaded, 2026-08-18
    (OPTIMIZATION_r11.md).

    Returns a pandas UDF: string -> struct<tris:array<string>,ks:array<int>>.
    """
    from collections import Counter

    @pandas_udf("struct<tris:array<string>,ks:array<int>>")
    def extract(texts: pd.Series) -> pd.DataFrame:
        tris_out, ks_out = [], []
        for t in texts:
            if t is None or len(t) < n:
                tris_out.append([])
                ks_out.append([])
                continue
            c = Counter(t[i : i + n] for i in range(len(t) - n + 1))
            tris_out.append(list(c.keys()))
            ks_out.append(list(c.values()))
        return pd.DataFrame({"tris": tris_out, "ks": ks_out})

    return extract


def _tri_score_row_py(t, lang, model_get, n):
    """Reference (pure-Python) per-row scorer: (n_tris, distinct, sum_freq).
    Kept as the n>3 path and the per-row fallback of the vectorized kernel;
    also the parity oracle for tests."""
    from collections import Counter

    c = Counter(t[i : i + n] for i in range(len(t) - n + 1))
    # NULL lang matches nothing — SQL join-on-lang semantics
    # (NULL != NULL), not Python dict (None, tri) key equality
    if lang is None:
        sf = 0
    else:
        sf = sum(k * model_get((lang, tri), 0) for tri, k in c.items())
    return len(t) - n + 1, len(c), sf


def make_trigram_score_udf(model, n=3):
    """Row-local typicality scoring against a collected ``{(lang, tri):
    corpus_count}`` model — the score pass touches no shuffle at all.
    Out-of-vocabulary n-grams contribute frequency 0 but still count in
    ``n_tris`` (the LEFT-join semantics: garbage must score LOW, not have
    its OOV mass dropped from the average). Integer outputs only — the
    final division/round happens JVM-side so the float path matches the
    SQL oracle exactly.

    Vectorized for ``n <= 3`` (round 11, guide §4.2: batchwise NumPy beats
    a per-row Python loop): a Unicode codepoint is < 2^21 (max U+10FFFF),
    so an n<=3-gram packs EXACTLY — collision-free, order-preserving —
    into one signed int64 via 21-bit fields; the model becomes per-lang
    SORTED (ids, freqs) arrays built once at closure time, and each doc
    scores as shift/or over the codepoint array + ``np.unique`` +
    ``searchsorted`` + one integer dot product. All-integer, so results
    are byte-identical to the Python path (pinned by
    ``tests/test_trigram_kernel_parity.py``); int64 cannot overflow
    before the declared ``long`` output would anyway (terms are
    non-negative, so the sum bounds every intermediate). Rows whose text
    cannot encode to UTF-32 (lone surrogates — impossible from parquet,
    possible from hand-built frames) fall back to the Python scorer
    row-locally. ``n > 3`` keeps the Python loop (4 x 21 bits would not
    fit an int64).

    Returns a pandas UDF: (string, string) ->
    struct<n_tris:long,distinct_tris:long,sum_freq:long>.
    """
    g = model.get

    if n <= 3:
        by_lang = {}
        for (lang, tri), c in model.items():
            if lang is None:
                continue  # NULL lang matches nothing (see docstring)
            by_lang.setdefault(lang, []).append((tri, int(c)))
        packed = {}
        for lang, pairs in by_lang.items():
            # keys with len != n are UNREACHABLE in the packed domain for
            # documents (every extracted gram has length n) but a shorter
            # key would pack to the same int64 as an n-gram with leading
            # U+0000 codepoints — skip them so a public caller passing an
            # arbitrary dict cannot mint phantom hits the Python path
            # would never produce (ADVICE r11 #5); the Python fallback's
            # dict lookup never matched them either (its keys are exact
            # n-length strings)
            pairs = [(tri, c) for tri, c in pairs if len(tri) == n]
            ids = np.empty(len(pairs), dtype=np.int64)
            freqs = np.empty(len(pairs), dtype=np.int64)
            for i, (tri, c) in enumerate(pairs):
                v = 0
                for ch in tri:
                    v = (v << 21) | ord(ch)
                ids[i] = v
                freqs[i] = c
            order = np.argsort(ids, kind="stable")
            packed[lang] = (ids[order], freqs[order])

        @pandas_udf("struct<n_tris:long,distinct_tris:long,sum_freq:long>")
        def score_vec(texts: pd.Series, langs: pd.Series) -> pd.DataFrame:
            nt, dt, sf = [], [], []
            for t, lang in zip(texts, langs):
                if t is None or len(t) < n:
                    nt.append(0)
                    dt.append(0)
                    sf.append(0)
                    continue
                try:
                    buf = t.encode("utf-32-le")
                except UnicodeEncodeError:
                    a, b, c_ = _tri_score_row_py(t, lang, g, n)
                    nt.append(a)
                    dt.append(b)
                    sf.append(c_)
                    continue
                cp = np.frombuffer(buf, dtype="<u4").astype(np.int64)
                ids = cp[: cp.size - n + 1].copy()
                for off in range(1, n):
                    ids <<= 21
                    ids |= cp[off : cp.size - n + 1 + off]
                uniq, cnt = np.unique(ids, return_counts=True)
                nt.append(int(ids.size))
                dt.append(int(uniq.size))
                m = packed.get(lang) if lang is not None else None
                if m is None or m[0].size == 0:
                    sf.append(0)
                    continue
                sid, sfreq = m
                pos = np.searchsorted(sid, uniq)
                # pos == size means uniq[i] > every model id — clip to 0;
                # the equality mask below cannot false-positive there
                # (that uniq value is strictly greater than sid[0] too)
                pos[pos == sid.size] = 0
                hit = sid[pos] == uniq
                sf.append(int(np.dot(cnt[hit], sfreq[pos[hit]])))
            return pd.DataFrame(
                {"n_tris": nt, "distinct_tris": dt, "sum_freq": sf}
            )

        return score_vec

    @pandas_udf("struct<n_tris:long,distinct_tris:long,sum_freq:long>")
    def score(texts: pd.Series, langs: pd.Series) -> pd.DataFrame:
        nt, dt, sf = [], [], []
        for t, lang in zip(texts, langs):
            if t is None or len(t) < n:
                nt.append(0)
                dt.append(0)
                sf.append(0)
                continue
            a, b, c_ = _tri_score_row_py(t, lang, g, n)
            nt.append(a)
            dt.append(b)
            sf.append(c_)
        return pd.DataFrame({"n_tris": nt, "distinct_tris": dt, "sum_freq": sf})

    return score


def make_compression_ratio_udf(level=6):
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    classic cheap proxy for repetitive/templated text (low ratio) vs
    high-entropy soup (ratio ~1): used as a quality gate alongside the
    expression-based signals in ``functions/text.py``. Deterministic for a
    given zlib level; engine-specific (no SQL replay), so queries over it
    are graded rows-only. Arrow-batched; the UTF-8 encode + deflate stays
    off the JVM heap.

    Returns a pandas UDF: string -> struct<raw_bytes:long,
    compressed_bytes:long, ratio:double>.
    """
    import zlib

    @pandas_udf("struct<raw_bytes:long,compressed_bytes:long,ratio:double>")
    def comp(texts: pd.Series) -> pd.DataFrame:
        raw, comp_, ratio = [], [], []
        for t in texts:
            if not t:  # None and "" alike: no content, no header bytes
                raw.append(0)
                comp_.append(0)
                ratio.append(None)
                continue
            b = t.encode("utf-8")
            c = len(zlib.compress(b, level))
            raw.append(len(b))
            comp_.append(c)
            ratio.append(round(c / len(b), 6))
        return pd.DataFrame(
            {"raw_bytes": raw, "compressed_bytes": comp_, "ratio": ratio}
        )

    return comp


def make_compression_check_udf(level=6):
    """zlib CONTRACT checker — the oracle-gradeable sibling of
    :func:`make_compression_ratio_udf` (the sketch_merge_check pattern:
    engine-specific VALUES are rows-only, but the codec's invariants are
    exact booleans a SQL oracle replays). Per document:

    - ``roundtrip_ok``: ``decompress(compress(x)) == x`` (losslessness)
    - ``within_bound``: ``len(compress(x)) <= len(x) + 11 + 5*ceil(len(x)/16384)``
      (zlib's documented worst-case stored-block expansion, padded)
    - ``deterministic``: two independent ``compress`` calls byte-match

    Returns a pandas UDF: string -> struct<roundtrip_ok:boolean,
    within_bound:boolean, deterministic:boolean> (all true on empty/None —
    vacuous contract).
    """
    import zlib

    @pandas_udf("struct<roundtrip_ok:boolean,within_bound:boolean,deterministic:boolean>")
    def check(texts: pd.Series) -> pd.DataFrame:
        rt, wb, det = [], [], []
        for t in texts:
            if not t:
                rt.append(True)
                wb.append(True)
                det.append(True)
                continue
            b = t.encode("utf-8")
            c1 = zlib.compress(b, level)
            c2 = zlib.compress(b, level)
            rt.append(zlib.decompress(c1) == b)
            wb.append(len(c1) <= len(b) + 11 + 5 * ((len(b) + 16383) // 16384))
            det.append(c1 == c2)
        return pd.DataFrame(
            {"roundtrip_ok": rt, "within_bound": wb, "deterministic": det}
        )

    return check


def make_bpe_apply_udf(merges):
    """Apply an ordered BPE merge table to a whitespace-token array,
    row-local. Each merge (a, b) rewrites every adjacent occurrence of
    symbols a, b into the joined symbol "a b" (left-to-right, the standard
    greedy BPE application order) before the next merge applies — exactly
    the reference algorithm tokenizer trainers implement per word, here per
    document sequence. The merge table is model-bounded closure state.

    Returns a pandas UDF: array<string> -> array<string>.
    """

    ms = [(a, b, a + " " + b) for a, b in merges]

    @pandas_udf("array<string>")
    def apply_bpe(tok_arrays: pd.Series) -> pd.Series:
        out = []
        for toks in tok_arrays:
            if toks is None:
                out.append(None)
                continue
            syms = list(toks)
            for a, b, joined in ms:
                i, n, res = 0, len(syms), []
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        res.append(joined)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            out.append(syms)
        return pd.Series(out)

    return apply_bpe
