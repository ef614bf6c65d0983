"""Perturbation samplers for LIME (SURVEY.md §2j rows L2 tabular, L3 text).

Upstream analogue [public, unverified locally]: ``lime_tabular``'s
neighborhood sampler and ``lime_text.IndexedString`` word masking.

Determinism without driver-side RNG: every Bernoulli draw is
``xxhash64(seed, instance_id, sample_id, position) mod 2`` — reproducible
across runs, partitionings, and cluster sizes (no per-partition RNG state,
no collect). Sample 0 is always the unperturbed instance, as upstream.

Scale design: each sampler is ONE ``mapInArrow`` pass. An instance's whole
neighborhood — masks, reconstruction, text re-join, and for the explainers
(``with_dist``) the distance to the instance — is built by NumPy over the
instance's Arrow row where that row lives; nothing round-trips the driver.
In ``with_dist`` mode the masks stay in the worker: the explainers' fit
pass regenerates them with `_mask_twin` instead of reading a ``z`` column
that crossed the JVM twice. The draws come from
``_xxhash64_*``, a vectorized twin of Spark's ``XXH64`` fed the same hash
chain as ``_bernoulli_keep`` (the column form, kept for image-LIME and as
the reference the tests compare against), so the masks are bit-identical
to ``F.xxhash64``. The arithmetic keeps Spark's operation order
(``x*z + mu*(1-z)``, a left-to-right sum for the distance), so the floats
are bit-identical too. (The column form paid for Spark 4.1 running
``transform``/``zip_with``/``aggregate`` as interpreted ``CodegenFallback``
trees, once per array element of every sample row.)

Output batches cover whole instances and hold at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (read on the driver
when the plan is built); a single instance may exceed it.
"""

from __future__ import annotations

import gc
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _bernoulli_keep(seed: int, instance_id: Column, sample_id: Column, pos: Column) -> Column:
    """Deterministic fair coin: True => keep the original feature/word."""
    h = F.xxhash64(F.lit(seed), instance_id, sample_id, pos)
    return F.pmod(h, F.lit(2)) == 0


def with_samples(instances: DataFrame, num_samples: int) -> DataFrame:
    """Explode each instance row into `num_samples` sample rows."""
    return instances.withColumn(
        "sample_id", F.explode(F.sequence(F.lit(0), F.lit(num_samples - 1)))
    )


# --------------------------------------------------------------------------
# NumPy twin of org.apache.spark.sql.catalyst.expressions.XXH64 (the hash
# behind F.xxhash64, default seed 42). uint64 arithmetic wraps like Java's
# long; the result's parity equals pmod(hash, 2).
# --------------------------------------------------------------------------
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_XXHASH64_SEED = np.uint64(42)


def _rotl(h: np.ndarray, r: int) -> np.ndarray:
    return (h << np.uint64(r)) | (h >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _xxhash64_int(v, seed) -> np.ndarray:
    """``XXH64.hashInt(v, seed)``, broadcast over int arrays ``v``/``seed``."""
    v = np.asarray(v).astype(np.uint32).astype(np.uint64)
    h = np.asarray(seed, dtype=np.uint64) + (_P5 + np.uint64(4))
    h = h ^ (v * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _xxhash64_long(v, seed) -> np.ndarray:
    """``XXH64.hashLong(v, seed)``, broadcast over int arrays ``v``/``seed``."""
    v = np.asarray(v).astype(np.int64).astype(np.uint64)
    h = np.asarray(seed, dtype=np.uint64) + (_P5 + np.uint64(8))
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _id_hasher(schema: T.StructType, id_col: str) -> Callable:
    """The XXH64 step Spark applies to ``id_col``'s type. Raises TypeError
    for other types while the plan is built, not inside a worker."""
    dtype = schema[id_col].dataType
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return _xxhash64_int
    if isinstance(dtype, T.LongType):
        return _xxhash64_long
    raise TypeError(
        f"{id_col} must be an integral column (tinyint/smallint/int/bigint) "
        f"to seed the perturbation hash, got {dtype.simpleString()}"
    )


def _seed_hash(seed: int) -> np.uint64:
    """The hash chain after ``F.lit(seed)``: a Python int literal is an int
    when it fits 32 bits, else a bigint."""
    if isinstance(seed, bool) or not isinstance(seed, (int, np.integer)):
        raise TypeError(f"seed must be an int, got {type(seed).__name__}")
    seed = int(seed)
    # One-element arrays: NumPy warns on wrapping scalar arithmetic.
    start = np.array([_XXHASH64_SEED])
    if -(2**31) <= seed < 2**31:
        return _xxhash64_int(np.array([seed]), start)[0]
    if -(2**63) <= seed < 2**63:
        return _xxhash64_long(np.array([seed]), start)[0]
    raise TypeError(f"seed {seed} does not fit a bigint")


def _keep_mask(h_id: np.ndarray, num_samples: int, width: int) -> np.ndarray:
    """(len(h_id), num_samples, width) twin of ``_bernoulli_keep`` given the
    chain hashed through each instance id; sample 0 keeps everything."""
    sample_id = np.arange(num_samples, dtype=np.int32)
    h = _xxhash64_int(sample_id[None, :], h_id[:, None])
    h = _xxhash64_int(np.arange(width, dtype=np.int32), h[:, :, None])
    keep = (h & np.uint64(1)) == 0
    keep[:, 0, :] = True
    return keep


def _mask_twin(
    schema: T.StructType,
    id_col: str,
    *,
    seed: int,
    num_samples: int,
    width: int | None = None,
) -> Callable[[int, np.ndarray, list | None], np.ndarray]:
    """The ``z`` a sampler emits, regenerated in the explainers' fit pass
    so the mask never crosses the JVM: ``twin(instance_id, sample_id,
    words)`` is one instance's int32 (len(sample_id), width) mask from the
    same hash chain the sampler ran (``id_col``'s type in ``schema``,
    ``seed``, ``num_samples``). ``width`` None (text) takes the width from
    the instance's interpretable words, ``len(words)``."""
    id_hash = _id_hasher(schema, id_col)
    seed_h = _seed_hash(seed)

    def twin(instance_id: int, sample_id: np.ndarray, words: list | None) -> np.ndarray:
        h_id = id_hash(np.array([instance_id]), seed_h)
        mask = _keep_mask(h_id, num_samples, len(words) if width is None else width)
        return mask[0][sample_id].astype(np.int32)

    return twin


def _instance_hashes(batch, id_col: str, id_hash: Callable, seed_h) -> np.ndarray:
    """The chain through each row's id; xxhash64 skips a null id."""
    ids = batch.column(id_col)
    h = id_hash(ids.fill_null(0).to_numpy(), seed_h)
    if ids.null_count:
        h = np.where(ids.is_valid().to_numpy(zero_copy_only=False), h, seed_h)
    return h


def _freeze_worker_heap() -> None:
    """Called as a pass starts in a Python worker. PySpark's daemon runs a
    full ``gc.collect()`` after every task of a reused worker, and each one
    walks every object the worker holds — mostly the modules it imported
    (pyarrow, pandas, NumPy: about 40k objects), about 70 ms of CPU per
    task on a 4-vCPU host, paid by both passes of every explain call.
    ``gc.freeze()`` (once per process) moves what is alive now to the
    permanent generation, so later collections walk only what came after;
    frozen objects still die by reference count, only cycles among them
    stay."""
    if not gc.get_freeze_count():
        gc.freeze()


def _list_array(values, lengths: np.ndarray, *, row_null=None, item_null=None):
    """Arrow list array whose row r holds the next ``lengths[r]`` items of
    ``values`` (a NumPy or Arrow array); the masks mark null rows/items."""
    import pyarrow as pa

    offsets = np.zeros(lengths.size + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    if not isinstance(values, pa.Array):
        values = pa.array(values, mask=item_null)
    mask = None if row_null is None else pa.array(row_null)
    return pa.ListArray.from_arrays(pa.array(offsets), values, mask=mask)


def _neighborhoods(
    instances: DataFrame,
    num_samples: int,
    fields: list[T.StructField],
    build: Callable,
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """The shared ``mapInArrow`` shell: every input row (minus ``drop``)
    repeated ``num_samples`` times with ``sample_id``, plus the ``fields``
    that ``build(chunk)`` returns as Arrow arrays of ``len(chunk) *
    num_samples`` rows."""
    import pyarrow as pa

    spark = instances.sparkSession
    limit = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    step = max(1, limit // num_samples) if limit > 0 else None
    kept = [f for f in instances.schema.fields if f.name not in drop]
    names = [f.name for f in kept] + ["sample_id"] + [f.name for f in fields]
    schema = T.StructType(
        kept + [T.StructField("sample_id", T.IntegerType(), False)] + fields
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _freeze_worker_heap()
        for batch in batches:
            for lo in range(0, batch.num_rows, step or batch.num_rows or 1):
                chunk = batch.slice(lo, step)
                n = chunk.num_rows
                rows = pa.array(np.repeat(np.arange(n), num_samples))
                sample_id = np.tile(np.arange(num_samples, dtype=np.int32), n)
                cols = [chunk.column(f.name).take(rows) for f in kept]
                yield pa.RecordBatch.from_arrays(
                    cols + [pa.array(sample_id)] + build(chunk), names=names
                )

    return instances.mapInArrow(run, schema)


# --------------------------------------------------------------------------
# Tabular
# --------------------------------------------------------------------------
_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
)


def _tabular_samples(
    instances: DataFrame,
    *,
    x_col: str,
    id_col: str,
    mu: list[float],
    num_samples: int,
    seed: int,
    with_dist: bool,
) -> DataFrame:
    """``perturb_tabular``'s pass. ``with_dist`` (the explainers) drops
    ``x_col`` and ``z`` and adds ``dist``: the euclidean distance from
    ``raw`` to x, bit-identical to ``kernel.euclidean_distance(raw, x)``.
    The explainers' fit pass regenerates z with `_mask_twin`, so z never
    crosses the JVM."""
    import pyarrow as pa

    x_type = instances.schema[x_col].dataType
    if not (isinstance(x_type, T.ArrayType) and isinstance(x_type.elementType, _NUMERIC)):
        raise TypeError(f"{x_col} must be a numeric array, got {x_type.simpleString()}")
    id_hash = _id_hasher(instances.schema, id_col)
    seed_h = _seed_hash(seed)
    mu_arr = np.asarray(mu, dtype=np.float64)
    d = mu_arr.size
    if d == 0:
        raise ValueError("mu must have at least one dimension")

    def build(chunk: pa.RecordBatch) -> list[pa.Array]:
        n = chunk.num_rows
        xs = chunk.column(x_col)
        lengths = xs.value_lengths().fill_null(d).to_numpy()
        if (lengths != d).any():
            raise ValueError(f"{x_col} arrays must have len(mu) = {d} elements")
        row_ok = xs.is_valid().to_numpy(zero_copy_only=False)
        values = xs.flatten()
        x = np.zeros((n, d))
        x[row_ok] = values.fill_null(0).to_numpy().astype(np.float64).reshape(-1, d)
        valid = np.zeros((n, d), dtype=bool)
        valid[row_ok] = values.is_valid().to_numpy(zero_copy_only=False).reshape(-1, d)

        z = _keep_mask(_instance_hashes(chunk, id_col, id_hash, seed_h), num_samples, d)
        z = z.astype(np.int32)
        zf = z.astype(np.float64)
        # Spark's order: element_at(x)*z + mu*(1 - z), each product rounded.
        raw = x[:, None, :] * zf + mu_arr * (1.0 - zf)
        # A null x element makes the raw element (and the distance) null.
        null = None
        if not valid.all():
            null = np.broadcast_to(~valid[:, None, :], raw.shape).ravel()
        widths = np.full(n * num_samples, d)
        out = [_list_array(raw.ravel(), widths, item_null=null)]
        if with_dist:
            sq = (raw - x[:, None, :]).reshape(-1, d)
            sq = sq * sq
            # aggregate() folds left from 0.0; np.sum adds pairwise and
            # would round differently.
            acc = np.zeros(sq.shape[0])
            for j in range(d):
                acc = acc + sq[:, j]
            dist_null = None if null is None else null.reshape(-1, d).any(axis=1)
            out.append(pa.array(np.sqrt(acc), mask=dist_null))
        else:
            out.insert(0, _list_array(z.ravel(), widths))
        return out

    fields = [T.StructField("raw", T.ArrayType(T.DoubleType(), True), False)]
    if with_dist:
        fields.append(T.StructField("dist", T.DoubleType(), True))
    else:
        fields.insert(0, T.StructField("z", T.ArrayType(T.IntegerType(), False), False))
    return _neighborhoods(
        instances, num_samples, fields, build, drop=(x_col,) if with_dist else ()
    )


def perturb_tabular(
    instances: DataFrame,
    *,
    x_col: str = "x",
    id_col: str = "instance_id",
    mu: list[float],
    num_samples: int,
    seed: int = 7,
) -> DataFrame:
    """Binary-mask neighborhood: z_i ~ Bernoulli(1/2); masked dims are
    replaced with the corpus mean mu_i (mask-to-baseline reconstruction).

    Output adds: sample_id, z (array<int> interpretable rep), raw
    (array<double> reconstruction fed to the black box).
    """
    return _tabular_samples(
        instances, x_col=x_col, id_col=id_col, mu=mu,
        num_samples=num_samples, seed=seed, with_dist=False,
    )


def perturb_tabular_gaussian(
    instances: DataFrame,
    *,
    x_col: str = "x",
    id_col: str = "instance_id",
    mu: list[float],
    sigma: list[float],
    num_samples: int,
    seed: int = 7,
    sample_around_instance: bool = False,
) -> DataFrame:
    """Upstream-fidelity Gaussian neighborhood (the non-discretized
    lime_tabular sampler): raw_i ~ N(center_i, sigma_i) with center = the
    corpus mean (upstream default) or the instance itself
    (`sample_around_instance=True`). Sample 0 is the unperturbed instance.

    Alternative L2 mode: the deterministic mask-to-mean `perturb_tabular`
    stays the default (exactly reproducible, hash-seeded); this mode exists
    for fidelity with the published algorithm's sampling distribution.

    Determinism without driver-side RNG state: each instance's whole
    neighborhood block is drawn inside `mapInPandas` from a PCG64 generator
    seeded by (seed, instance_id) — reproducible across runs, partitionings
    and cluster sizes, because the stream never crosses instances.
    """
    import pandas as pd

    d = len(mu)
    if len(sigma) != d:
        raise ValueError(f"mu ({d}) and sigma ({len(sigma)}) length mismatch")
    mu_arr_b, sigma_arr_b = list(map(float, mu)), list(map(float, sigma))
    in_schema = instances.select(
        F.col(id_col).cast("long").alias("instance_id"),
        F.col(x_col).alias("x"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu_arr = np.asarray(mu_arr_b)
        sigma_arr = np.asarray(sigma_arr_b)
        for pdf in batches:
            out = []
            for iid, x in zip(pdf["instance_id"], pdf["x"]):
                x = np.asarray(list(x), dtype=np.float64)
                rng = np.random.default_rng([seed, int(iid)])
                center = x if sample_around_instance else mu_arr
                raw = rng.standard_normal((num_samples, d)) * sigma_arr + center
                raw[0] = x  # sample 0 = the unperturbed instance, as upstream
                out.append(
                    pd.DataFrame(
                        {
                            "instance_id": np.full(num_samples, int(iid)),
                            "sample_id": np.arange(num_samples),
                            "raw": list(raw),
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {"instance_id": [], "sample_id": [], "raw": []}
            )

    return in_schema.mapInPandas(
        run, schema="instance_id bigint, sample_id int, raw array<double>"
    )


# --------------------------------------------------------------------------
# Text
# --------------------------------------------------------------------------
def _text_samples(
    docs: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_samples: int,
    seed: int,
    bow: bool,
    with_dist: bool = False,
) -> DataFrame:
    """``perturb_text`` (``bow=False``) / ``perturb_text_bow`` pass.

    Tokens are ``split(text, " ")``, empty tokens kept as Java's split with
    limit -1 keeps them; ``perturbed`` is the kept tokens joined by one
    space. A null text gives null z, vocab and n_kept and an empty
    ``perturbed``, as the column form did.

    ``with_dist`` (the explainers) drops ``text_col``, ``vocab``, ``z`` and
    ``n_kept`` and adds ``dist`` and ``doc_words``. ``dist`` is the cosine
    distance between z and the all-ones original, scaled by 100 as upstream
    lime_text does before its width-25 kernel: 1 - sum(z) / (sqrt(sum(z)) *
    sqrt(d')) = (1 - sqrt(n_kept / d')) * 100, d' the z width, in IEEE
    double operations as Spark evaluates them. ``doc_words`` holds the
    interpretable features' words — the vocabulary in bow mode, the tokens
    otherwise — on sample 0's row only (null on the others, which no reader
    looks at); the fit pass regenerates z from its length with
    `_mask_twin`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not isinstance(docs.schema[text_col].dataType, T.StringType):
        raise TypeError(f"{text_col} must be a string column")
    id_hash = _id_hasher(docs.schema, id_col)
    seed_h = _seed_hash(seed)
    S = num_samples

    def build(chunk: pa.RecordBatch) -> list[pa.Array]:
        n = chunk.num_rows
        toks = pc.split_pattern(chunk.column(text_col), " ")
        offsets = toks.offsets.to_numpy()
        h_id = _instance_hashes(chunk, id_col, id_hash, seed_h)
        null = ~toks.is_valid().to_numpy(zero_copy_only=False)
        z_len = np.zeros((n, S), dtype=np.int32)
        n_kept = np.zeros((n, S), dtype=np.int32)
        kept_len = np.zeros((n, S), dtype=np.int32)
        z_vals, kept_idx, vocab = [np.zeros(0, bool)], [np.zeros(0, np.intp)], [None] * n
        for i in np.flatnonzero(~null):
            lo, ntok = offsets[i], offsets[i + 1] - offsets[i]
            if bow:
                # array_distinct order: first appearance.
                slot: dict[str, int] = {}
                words = toks.values[lo : lo + ntok].to_pylist()
                feature = np.fromiter(
                    (slot.setdefault(t, len(slot)) for t in words), np.intp, ntok
                )
                vocab[i] = list(slot)
            else:
                feature = np.arange(ntok)
            z = _keep_mask(h_id[i : i + 1], S, len(slot) if bow else ntok)[0]
            tok_keep = z[:, feature]
            z_vals.append(z.ravel())
            z_len[i] = z.shape[1]
            n_kept[i] = z.sum(axis=1)
            kept_len[i] = tok_keep.sum(axis=1)
            kept_idx.append(lo + np.nonzero(tok_keep)[1])

        row_null = np.repeat(null, S) if null.any() else None
        kept_words = toks.values.take(pa.array(np.concatenate(kept_idx)))
        perturbed = pc.binary_join(_list_array(kept_words, kept_len.ravel()), " ")
        features = pa.array(vocab, pa.list_(pa.string())) if bow else toks
        rows = np.repeat(np.arange(n), S)
        if with_dist:
            # A null text has z width 0; its distance is masked null.
            dist = (1.0 - np.sqrt(n_kept / np.maximum(z_len, 1))) * 100.0
            not_sample0 = np.tile(np.arange(S) > 0, n)
            return [
                perturbed,
                pa.array(dist.ravel(), mask=row_null),
                features.take(pa.array(rows, mask=not_sample0)),
            ]
        z_arr = _list_array(
            np.concatenate(z_vals).astype(np.int32), z_len.ravel(), row_null=row_null
        )
        out = [z_arr, perturbed, pa.array(n_kept.ravel(), mask=row_null)]
        if bow:
            out.insert(0, features.take(pa.array(rows)))
        return out

    if with_dist:
        fields = [
            T.StructField("perturbed", T.StringType(), False),
            T.StructField("dist", T.DoubleType(), True),
            T.StructField("doc_words", T.ArrayType(T.StringType(), True), True),
        ]
        return _neighborhoods(docs, num_samples, fields, build, drop=(text_col,))
    fields = [
        T.StructField("z", T.ArrayType(T.IntegerType(), False), True),
        T.StructField("perturbed", T.StringType(), False),
        T.StructField("n_kept", T.IntegerType(), True),
    ]
    if bow:
        fields.insert(0, T.StructField("vocab", T.ArrayType(T.StringType(), True), True))
    return _neighborhoods(docs, num_samples, fields, build)


def perturb_text(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_samples: int,
    seed: int = 7,
) -> DataFrame:
    """Word-masking neighborhood for text: each word position is kept with
    probability 1/2; the perturbed text is the kept words re-joined.

    Output adds: sample_id, z (array<int> over word positions), perturbed
    (string), n_kept.
    """
    return _text_samples(
        docs, text_col=text_col, id_col=id_col, num_samples=num_samples,
        seed=seed, bow=False,
    )


def perturb_text_bow(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_samples: int,
    seed: int = 7,
) -> DataFrame:
    """Bag-of-words masking — upstream ``lime_text``'s DEFAULT mode
    (``bow=True``): the interpretable feature is the DISTINCT word, and
    masking a feature removes EVERY occurrence. The vocabulary is the
    doc's distinct words in first-appearance order (upstream
    ``IndexedString`` semantics).

    Output adds: sample_id, vocab (array<string>), z (array<int> over
    vocab positions), perturbed (string), n_kept (kept vocab count).
    """
    return _text_samples(
        docs, text_col=text_col, id_col=id_col, num_samples=num_samples,
        seed=seed, bow=True,
    )
