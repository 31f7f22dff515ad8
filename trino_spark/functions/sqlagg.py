"""SQL-callable sketch / ML aggregates — the GROUPED_AGG residue.

Reference surface: docs/src/main/sphinx/functions/{qdigest,tdigest,
setdigest,aggregate,ml}.md and the corresponding operators
(QuantileDigestAggregationFunction, TDigestAggregationFunction,
SetDigestFunctions, ApproximateMostFrequentFunction,
NumericHistogramAggregation, trino-ml Learn*/Classify/Regress).

The repo's scale path for every one of these is the Column-API operator
(operators/quantile_sketch.py, tdigest.py, setdigest.py,
spacesaving.py, ml.py) — pure-expression partial aggregation that never
materializes a group. This module adds the *verbatim SQL* surface:
Arrow-batched pandas GROUPED_AGG UDFs that receive the whole group, so a
reference user's `SELECT value_at_quantile(qdigest_agg(x), 0.5)` runs
unchanged. Sketch values are self-describing binary slices (4-byte magic
prefix + JSON payload), so the scalar companions dispatch on the payload
kind exactly like Trino overloads on the sketch type.

Documented deviations (same as the operator layer): sketch binaries are
NOT Trino's serialized layouts (engine-native, like Spark's own
DataSketches HLL choice); learn_classifier trains logistic regression
and learn_regressor least squares rather than libsvm SVMs.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, DoubleType, LongType, MapType, StringType

from trino_spark.functions.registry import murmur3_x64_128

_QD = b"QD01"  # log-bucket quantile digest
_TD = b"TD01"  # t-digest centroids
_SD = b"SD01"  # k-minimum-values set digest

_QD_EPS = 0.01  # matches operators/quantile_sketch.py DEFAULT_EPS
_SD_K = 2048


# ------------------------------------------------------------- qdigest


def _qdigest_from_values(vals: np.ndarray) -> bytes:
    """Log-bucket digest: bucket id = round(log(|v|)/log(1+2*eps)) with
    sign/zero split — relative-error quantiles like Trino's qdigest."""
    base = math.log1p(2 * _QD_EPS)
    buckets: dict[int, int] = {}
    for v in vals:
        if not np.isfinite(v):
            continue
        if v == 0:
            b = 0
        else:
            m = int(round(math.log(abs(v)) / base)) + 1
            b = m if v > 0 else -m
        buckets[b] = buckets.get(b, 0) + 1
    return _QD + json.dumps(sorted(buckets.items())).encode()


def _qdigest_value(bucket: int) -> float:
    if bucket == 0:
        return 0.0
    base = math.log1p(2 * _QD_EPS)
    return math.copysign(math.exp((abs(bucket) - 1) * base), bucket)


def _tdigest_from_values(vals: np.ndarray) -> bytes:
    from trino_spark.operators.tdigest import compress

    vals = vals[np.isfinite(vals)]
    order = np.argsort(vals)
    means, weights = compress(vals[order], np.ones(len(vals))[order], delta=200.0)
    return _TD + json.dumps([list(map(float, means)), list(map(float, weights))]).encode()


def _parse_digest(d: bytes):
    d = bytes(d)
    magic, payload = d[:4], d[4:]
    return magic, json.loads(payload)


def _value_at_quantile(d, q):
    if d is None or q is None:
        return None
    magic, payload = _parse_digest(d)
    if magic == _TD:
        from trino_spark.operators.tdigest import quantile

        means, weights = payload
        return float(quantile(np.array(means), np.array(weights), float(q)))
    # qdigest: walk cumulative bucket counts
    total = sum(n for _, n in payload)
    if total == 0:
        return None
    target = float(q) * total
    seen = 0
    for b, n in payload:
        seen += n
        if seen >= target:
            return _qdigest_value(b)
    return _qdigest_value(payload[-1][0])


def _values_at_quantiles(d, qs):
    if d is None or qs is None:
        return None
    return [_value_at_quantile(d, q) for q in qs]


def _quantile_at_value(d, v):
    if d is None or v is None:
        return None
    magic, payload = _parse_digest(d)
    if magic == _TD:
        means, weights = np.array(payload[0]), np.array(payload[1])
        total = weights.sum()
        if total == 0:
            return None
        below = weights[means < float(v)].sum()
        at = weights[means == float(v)].sum()
        return float((below + at / 2) / total)
    total = sum(n for _, n in payload)
    if total == 0:
        return None
    v = float(v)
    seen = 0
    for b, n in payload:
        if _qdigest_value(b) <= v:
            seen += n
    return seen / total


# ------------------------------------------------------------ setdigest


def _hash64(v) -> int:
    h = murmur3_x64_128(str(v).encode())[:8]
    return int.from_bytes(h, "little", signed=True)


def _setdigest_from_values(vals) -> bytes:
    hashes = sorted({_hash64(v) for v in vals if v is not None})[:_SD_K]
    return _SD + json.dumps(hashes).encode()


def _sd_hashes(d) -> list[int]:
    magic, payload = _parse_digest(d)
    if magic != _SD:
        raise ValueError("not a setdigest")
    return payload


def _sd_cardinality(hashes: list[int]) -> int:
    if len(hashes) < _SD_K:
        return len(hashes)
    # k-minimum-values estimator: (k-1) / fraction of hash space covered
    span = (hashes[-1] - (-(2**63))) / 2.0**64
    return int((_SD_K - 1) / span)


def _jaccard_index(a, b):
    if a is None or b is None:
        return None
    ha, hb = set(_sd_hashes(a)), set(_sd_hashes(b))
    uni = sorted(ha | hb)[:_SD_K]
    k = len(uni)
    if k == 0:
        return 0.0
    inter = sum(1 for h in uni if h in ha and h in hb)
    return inter / k


def _intersection_cardinality(a, b):
    if a is None or b is None:
        return None
    ha, hb = _sd_hashes(a), _sd_hashes(b)
    union_hashes = sorted(set(ha) | set(hb))[:_SD_K]
    union_card = _sd_cardinality(union_hashes)
    j = _jaccard_index(a, b)
    return int(round(j * union_card))


def _hash_counts(d):
    if d is None:
        return None
    return {h: 1 for h in _sd_hashes(d)}


# ---------------------------------------------------------- histograms


def _numeric_histogram(buckets: int, vals: np.ndarray, weights: np.ndarray) -> dict:
    """Ben-Haim/Tom-Tov streaming histogram, batch form: seed one bin per
    distinct value, merge the two closest until `buckets` remain —
    the same bins Trino's NumericHistogram converges to."""
    agg: dict[float, float] = {}
    for v, w in zip(vals, weights):
        if v is None or not np.isfinite(v):
            continue
        agg[float(v)] = agg.get(float(v), 0.0) + float(w)
    bins = sorted(agg.items())
    while len(bins) > buckets:
        gaps = [(bins[i + 1][0] - bins[i][0], i) for i in range(len(bins) - 1)]
        _, i = min(gaps)
        (x1, w1), (x2, w2) = bins[i], bins[i + 1]
        merged = ((x1 * w1 + x2 * w2) / (w1 + w2), w1 + w2)
        bins[i : i + 2] = [merged]
    return dict(bins)


# ------------------------------------------------------------------- ml


def _train(labels: np.ndarray, feats: np.ndarray, kind: str) -> str:
    if len(labels) == 0 or feats.ndim != 2:
        return None  # empty / all-null group: NULL model, not a crash
    dim = feats.shape[1]
    if kind == "regressor":
        X = np.hstack([feats, np.ones((len(feats), 1))])
        coef, *_ = np.linalg.lstsq(X, labels, rcond=None)
        return json.dumps({"kind": kind, "w": list(map(float, coef[:dim])), "b": float(coef[dim])})
    w = np.zeros(dim)
    b = 0.0
    lr = 0.5
    for _ in range(200):
        z = feats @ w + b
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        g = p - labels
        w -= lr * (feats.T @ g) / len(labels)
        b -= lr * g.mean()
    return json.dumps({"kind": kind, "w": list(map(float, w)), "b": float(b)})


def _classify(feats, model):
    if feats is None or model is None:
        return None
    m = json.loads(model)
    z = float(np.dot(np.array(feats, dtype=float), m["w"]) + m["b"])
    return int(z > 0)


def _regress(feats, model):
    if feats is None or model is None:
        return None
    m = json.loads(model)
    return float(np.dot(np.array(feats, dtype=float), m["w"]) + m["b"])


# ------------------------------------------------------------ register


def register_sql_aggregates(spark: SparkSession) -> None:
    """Register the GROUPED_AGG + companion scalar surface (run against the
    bundle recorder, see registry.bundle). Return types are DataType
    objects, not DDL strings: pandas_udf parses a string in the JVM, and
    the bundle table is built without a session."""
    reg = spark.udf.register

    @pandas_udf(BinaryType())
    def qdigest_agg(v: pd.Series) -> bytes:
        return _qdigest_from_values(v.dropna().to_numpy(dtype=float))

    @pandas_udf(BinaryType())
    def tdigest_agg(v: pd.Series) -> bytes:
        return _tdigest_from_values(v.dropna().to_numpy(dtype=float))

    @pandas_udf(BinaryType())
    def make_set_digest(v: pd.Series) -> bytes:
        return _setdigest_from_values(v.dropna().tolist())

    @pandas_udf(BinaryType())
    def merge_set_digest(d: pd.Series) -> bytes:
        hashes: set[int] = set()
        for item in d.dropna():
            hashes |= set(_sd_hashes(item))
        return _SD + json.dumps(sorted(hashes)[:_SD_K]).encode()

    # Trino overloads merge() on the sketch type; the dialect's merge()
    # name stays bound to HLL (hll_union_agg). Digest columns merge via
    # these typed spellings (documented deviation in FUNCTIONS.md).
    @pandas_udf(BinaryType())
    def merge_tdigest(d: pd.Series) -> bytes:
        import numpy as _np

        from trino_spark.operators.tdigest import compress

        means, weights = [], []
        for item in d.dropna():
            magic, payload = _parse_digest(item)
            if magic != _TD:
                raise ValueError("merge_tdigest: not a tdigest")
            means.extend(payload[0])
            weights.extend(payload[1])
        if not means:
            return None
        order = _np.argsort(means)
        m, w = compress(_np.array(means)[order], _np.array(weights)[order], delta=200.0)
        return _TD + json.dumps([list(map(float, m)), list(map(float, w))]).encode()

    @pandas_udf(BinaryType())
    def merge_qdigest(d: pd.Series) -> bytes:
        buckets: dict[int, int] = {}
        for item in d.dropna():
            magic, payload = _parse_digest(item)
            if magic != _QD:
                raise ValueError("merge_qdigest: not a qdigest")
            for b, n in payload:
                buckets[b] = buckets.get(b, 0) + n
        if not buckets:
            return None
        return _QD + json.dumps(sorted(buckets.items())).encode()

    @pandas_udf(BinaryType())
    def theta_sketch_union(b: pd.Series) -> bytes:
        from trino_spark.functions import thetasketch as _theta

        return _theta.union(bytes(x) for x in b.dropna())

    @pandas_udf(BinaryType())
    def theta_sketch_union_k(b: pd.Series, k: pd.Series, seed: pd.Series) -> bytes:
        from trino_spark.functions import thetasketch as _theta

        return _theta.union(
            (bytes(x) for x in b.dropna()),
            nominal_entries=int(k.iloc[0]),
            seed=int(seed.iloc[0]),
        )

    @pandas_udf(BinaryType())
    def theta_sketch_agg(v: pd.Series) -> bytes:
        # engine extension: the reference reads sketches built upstream;
        # this builds one (library-layout) so pipelines can also produce
        from trino_spark.functions import thetasketch as _theta

        return _theta.build(v.dropna().tolist())

    @pandas_udf(MapType(StringType(), LongType()))
    def approx_most_frequent(b: pd.Series, v: pd.Series, cap: pd.Series) -> dict:
        counts = v.dropna().astype(str).value_counts()
        return {k: int(n) for k, n in counts.head(int(b.iloc[0])).items()}

    @pandas_udf(MapType(StringType(), LongType()))
    def merge_approx_most_frequent(b: pd.Series, m: pd.Series) -> dict:
        # merge phase of the dialect's two-phase split: partials keep
        # `capacity` entries (the accuracy knob, SpaceSaving-style), the
        # merge sums and trims to the requested bucket count
        total: dict[str, int] = {}
        for d in m.dropna():
            for k, cnt in d.items():
                total[k] = total.get(k, 0) + int(cnt)
        top = sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))[: int(b.iloc[0])]
        return dict(top)

    @pandas_udf(MapType(DoubleType(), DoubleType()))
    def numeric_histogram(b: pd.Series, v: pd.Series) -> dict:
        vals = v.dropna().to_numpy(dtype=float)
        return _numeric_histogram(int(b.iloc[0]), vals, np.ones(len(vals)))

    @pandas_udf(MapType(DoubleType(), DoubleType()))
    def merge_numeric_histogram(b: pd.Series, m: pd.Series) -> dict:
        # Ben-Haim/Tom-Tov partials merge by pooling weighted bins and
        # recompressing — the same combine the reference's
        # NumericHistogram accumulator performs
        xs: list[float] = []
        ws: list[float] = []
        for d in m.dropna():
            for x, w in d.items():
                xs.append(float(x))
                ws.append(float(w))
        return _numeric_histogram(int(b.iloc[0]), np.array(xs), np.array(ws))

    @pandas_udf(StringType())
    def learn_classifier(label: pd.Series, feats: pd.Series) -> str:
        mask = label.notna() & feats.notna()
        return _train(
            label[mask].to_numpy(dtype=float),
            np.array(feats[mask].tolist(), dtype=float),
            "classifier",
        )

    @pandas_udf(StringType())
    def learn_regressor(label: pd.Series, feats: pd.Series) -> str:
        mask = label.notna() & feats.notna()
        return _train(
            label[mask].to_numpy(dtype=float),
            np.array(feats[mask].tolist(), dtype=float),
            "regressor",
        )

    @pandas_udf(StringType())
    def learn_libsvm_classifier(label: pd.Series, feats: pd.Series, params: pd.Series) -> str:
        mask = label.notna() & feats.notna()
        return _train(
            label[mask].to_numpy(dtype=float),
            np.array(feats[mask].tolist(), dtype=float),
            "classifier",
        )

    @pandas_udf(StringType())
    def learn_libsvm_regressor(label: pd.Series, feats: pd.Series, params: pd.Series) -> str:
        mask = label.notna() & feats.notna()
        return _train(
            label[mask].to_numpy(dtype=float),
            np.array(feats[mask].tolist(), dtype=float),
            "regressor",
        )

    reg("qdigest_agg", qdigest_agg)
    reg("tdigest_agg", tdigest_agg)
    reg("make_set_digest", make_set_digest)
    reg("merge_set_digest", merge_set_digest)
    reg("merge_tdigest", merge_tdigest)
    reg("merge_qdigest", merge_qdigest)
    # Apache DataSketches theta interop (docs/functions/datasketches.md;
    # functions/thetasketch.py — public compact layout, serVer 3 / fam 3)
    reg("theta_sketch_union", theta_sketch_union)
    reg("theta_sketch_union_k", theta_sketch_union_k)
    reg("theta_sketch_agg", theta_sketch_agg)
    reg("approx_most_frequent", approx_most_frequent)
    reg("merge_approx_most_frequent", merge_approx_most_frequent)
    reg("numeric_histogram", numeric_histogram)
    reg("merge_numeric_histogram", merge_numeric_histogram)
    reg("learn_classifier", learn_classifier)
    reg("learn_regressor", learn_regressor)
    reg("learn_libsvm_classifier", learn_libsvm_classifier)
    reg("learn_libsvm_regressor", learn_libsvm_regressor)

    reg("value_at_quantile", _value_at_quantile, "double")
    reg("values_at_quantiles", _values_at_quantiles, "array<double>")
    reg("quantile_at_value", _quantile_at_value, "double")
    reg("jaccard_index", _jaccard_index, "double")
    reg("intersection_cardinality", _intersection_cardinality, "bigint")
    reg("hash_counts", _hash_counts, "map<bigint,int>")
    reg("classify", _classify, "bigint")
    reg("regress", _regress, "double")
