"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB):

- **Exact** dedup is a hash groupBy — one shuffle on the content hash, with
  map-side partial aggregation.
- **MinHash+LSH**: signatures are per-row expressions (no shuffle); the
  candidate join shuffles only (doc_id, band_key) pairs — 4 small rows per
  document — and the quadratic Jaccard verification runs only inside LSH
  buckets, never across the whole corpus.
- **SimHash**: banded on 8-bit sub-keys; by pigeonhole a Hamming-<=3 pair
  always shares at least one of the 4 bands, so the banded join is EXACT
  (same result set as the quadratic join) at a fraction of the cost.
- **Embedding near-dup** ships a blocked pair join for correctness testing;
  the scale path is the LSH-bucketed variant in ``similarity.py``.

All signature arithmetic is engine-portable (see ``hashing.py``), so the
DuckDB oracle reproduces identical signatures, bands and pair sets.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import scoped_persist
from ..functions.vectors import cosine_similarity_expr
from .hashing import (
    BAND_ROWS,
    MINHASH_SEEDS,
    SIMHASH_BANDS,
    N_BANDS,
    P,
    SIMHASH_BITS,
    band_key_expr,
    hash60_expr,
    minhash_value_expr,
)
from .text import tokens_expr

SHINGLE_K = 3  # word 3-grams


def spread(df: DataFrame) -> DataFrame:
    """Ensure compute parallelism before expression-heavy pipelines.

    Higher-order functions (transform/aggregate lambdas) evaluate
    interpreted, outside whole-stage codegen — md5-over-shingles is CPU
    bound, so it must run on every core.  A scan of one small parquet file
    yields ONE partition; repartition up to the session's parallelism.
    No-op at scale: a 100 TB table already has thousands of input splits,
    so this never adds a shuffle there.
    """
    if df.isStreaming:
        # micro-batch partitioning belongs to the source (.rdd would
        # throw on a streaming frame anyway); per-batch spreads are the
        # replay machinery's concern
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# -- shingling ---------------------------------------------------------------


def shingles_expr(toks: Column) -> Column:
    """Word 3-gram shingles (space-joined); empty array for short docs.

    The ``when`` guard matters: Spark's ``sequence(1, n)`` with n < 1
    produces a *descending* sequence instead of an empty one.
    """
    n = F.size(toks)
    make = F.transform(
        F.sequence(F.lit(1), n - F.lit(SHINGLE_K - 1)),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + F.lit(1)),
            F.element_at(toks, i + F.lit(2)),
        ),
    )
    return F.when(n >= SHINGLE_K, make).otherwise(F.array().cast("array<string>"))


def with_shingles(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("shingles", shingles_expr(tokens_expr(F.col(text_col))))


def shingles_pandas_expr(text_col: Column, distinct: bool = False) -> Column:
    """Arrow-batched twin of ``shingles_expr(tokens_expr(text))`` — the
    r13 vectorization of the decontamination family's shared scan (the
    doc_profile/BPE-encode pattern): tokenize + 3-gram-join run as one C
    regex pass + a list comprehension per document instead of an
    interpreted ``transform`` that calls ``element_at`` three times per
    gram (and, fused under CollapseProject, can re-run the whole-document
    regexp per reference — the with_token_boundary disease).

    Bitwise parity: Python ``re`` and Java regex agree on '\\S+'; the
    gram string is the same single-space join; short/NULL/empty docs
    yield the empty array exactly like the ``when`` guard.  Verified
    against the Catalyst form over the corpus + adversarial rows in
    tests/test_llm_operators.py.  Zero-shuffle ArrowEvalPython
    projection, same as the doc profile.

    MEASURED AND NOT ADOPTED for the decontamination keys (r13, the
    stage-3-numpy-twin epistemics): on the explode+distinct gram build
    they share, the win is real but marginal — sf1 2.85 -> 2.30 s, sf10
    9.3 -> 7.8 s warm — because the (doc, gram) DISTINCT shuffle, not
    the interpreted gram fold, dominates that plan (unlike the
    doc-profile family, whose plans are shuffle-free so the fold WAS
    the cost).  Call sites therefore stay on the Catalyst form; this
    pass is for pipelines whose scan is CPU-bound (e.g. shingling fused
    with other Arrow work).

    ADOPTED in optimization round r13 with ``distinct=True``: once the
    decontamination family's global ``(doc_id, source, s).distinct()``
    exchange is replaced by per-document dedup (legal because doc_id is
    unique per row, so within-array dedup IS the (doc, gram) distinct),
    the gram fold becomes the dominant cost and the Arrow form pays.
    ``distinct=True`` dedups grams inside the same pass via
    ``dict.fromkeys`` (first-occurrence order — deterministic, no
    reliance on set/hash iteration order)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    from .text import TOKEN_RE

    token_re = _re.compile(TOKEN_RE)
    k = SHINGLE_K

    dedupe = distinct

    @pandas_udf("array<string>")
    def _shingles(texts: pd.Series) -> pd.Series:
        out = []
        for raw in texts:
            toks = token_re.findall(raw) if isinstance(raw, str) else []
            grams = (
                [
                    " ".join(toks[i : i + k])
                    for i in range(len(toks) - k + 1)
                ]
                if len(toks) >= k
                else []
            )
            out.append(list(dict.fromkeys(grams)) if dedupe else grams)
        return pd.Series(out)

    return _shingles(text_col)


def sh60_pandas_expr(text_col: Column) -> Column:
    """Arrow-batched twin of the MinHash docs build —
    ``array_distinct(transform(shingles_expr(tokens_expr(text)), hash60))``
    in ONE ArrowEvalPython projection (optimization r13, the
    doc_profile/BPE pattern applied to the pair pipeline's front).

    What it replaces: ``with_token_boundary`` (a repartition exchange
    carrying the token arrays, needed only to stop CollapseProject from
    re-inlining the tokenizer into every shingle lambda) followed by two
    interpreted higher-order folds (gram concat + md5 per gram).  The
    Arrow form tokenizes with the C regex engine, md5s each UNIQUE gram
    once per worker (memo), and dedups by the 60-bit VALUE in
    first-occurrence order — exactly ``array_distinct`` after hashing.
    Arrow output columns are plain attributes, so no exchange boundary
    is needed at all: the docs build becomes zero-shuffle.

    Bitwise parity (pinned in tests): Python ``re`` and Java regex agree
    on '\\S+'; the gram string is the same single-space join;
    ``int(md5(utf8)[:15], 16)`` is the same integer as
    ``conv(substring(md5(s),1,15),16,10)``; docs with < SHINGLE_K tokens
    yield the empty array (callers filter ``size(sh60) > 0``, the exact
    row set of the old ``size(toks) >= K`` filter)."""
    import hashlib
    import re as _re

    from pyspark.sql.functions import pandas_udf

    from .text import TOKEN_RE

    token_re = _re.compile(TOKEN_RE)
    k = SHINGLE_K

    @pandas_udf("array<long>")
    def _sh60(texts: pd.Series) -> pd.Series:
        memo: dict = {}  # gram -> 60-bit hash, per worker

        def h60(g):
            v = memo.get(g)
            if v is None:
                v = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                memo[g] = v
            return v

        out = []
        for raw in texts:
            toks = token_re.findall(raw) if isinstance(raw, str) else []
            if len(toks) < k:
                out.append([])
                continue
            out.append(
                list(
                    dict.fromkeys(
                        h60(" ".join(toks[i : i + k]))
                        for i in range(len(toks) - k + 1)
                    )
                )
            )
        return pd.Series(out)

    # asNondeterministic: the callers' size(sh60) filter otherwise gets
    # pushed below the projection and the optimizer DUPLICATES the Arrow
    # node — every row would pay the tokenize+md5 pass twice (guide
    # §4.4).  The function is pure, so results are unchanged; the mark
    # only pins a single evaluation.
    return _sh60.asNondeterministic()(text_col)


def sh60_bands_pandas_expr(text_col: Column) -> Column:
    """:func:`sh60_pandas_expr` + the 4 LSH band keys in ONE Arrow pass —
    ``struct<sh60 array<long>, k0..k3 long>`` (optimization r14, VERDICT
    r13 Next #2).

    What it replaces: after the r13 Arrow docs build, the 16 MinHash
    permutations still ran as interpreted Catalyst folds
    (``transform`` + ``array_min`` per seed over the cached sh60 arrays)
    plus a second persisted band table to keep the self-join from paying
    them twice.  The permutations are pure int64 arithmetic, so this pass
    computes them vectorized over the whole Arrow batch: one flat
    ``h % P`` array for all documents, 16 ``(a*h+b) % P`` passes with
    ``np.minimum.reduceat`` per-document segment minima, band keys as the
    same chained 31x combine.  The band table then reads 4 flat long
    columns off the docs cache — zero signature compute after the scan,
    and the separate band persist disappears.

    Bitwise parity (pinned in tests): identical sh60 list as
    ``sh60_pandas_expr``; every product stays under 2^63 (a < 2^31,
    h % P < 2^31 → a*h+b < 2^62; band key < P * 30784 < 2^46), so int64
    arithmetic equals the engines' BIGINT arithmetic exactly.  Docs with
    no shingles emit NULL keys — unobservable, because every consumer
    filters ``size(sh60) > 0`` first (the same row set the old
    ``array_min(empty) = NULL`` signature path dropped).

    ``asNondeterministic`` keeps the consumers' field extractions and the
    size filter from collapsing into the projection and duplicating the
    Arrow node (guide §4.4; the r13 rejected experiment measured 6x from
    exactly that duplication)."""
    import hashlib
    import re as _re

    import numpy as np

    from pyspark.sql.functions import pandas_udf

    from .text import TOKEN_RE

    token_re = _re.compile(TOKEN_RE)
    k = SHINGLE_K
    seeds_a = np.array([a for a, _ in MINHASH_SEEDS], dtype=np.int64)
    seeds_b = np.array([b for _, b in MINHASH_SEEDS], dtype=np.int64)
    n_seeds = len(MINHASH_SEEDS)
    # bind as closure locals: the UDF body must not reach for module
    # globals (worker-side deserialization resolves the closure, not
    # this module's namespace)
    p_mod = P
    n_bands = N_BANDS
    band_rows_n = BAND_ROWS

    fields = ", ".join(
        ["sh60 array<long>"] + [f"k{j} long" for j in range(N_BANDS)]
    )

    @pandas_udf(fields)
    def _docs(texts: pd.Series) -> pd.DataFrame:
        memo: dict = {}  # gram -> 60-bit hash, per worker

        def h60(g):
            v = memo.get(g)
            if v is None:
                v = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                memo[g] = v
            return v

        lists = []
        for raw in texts:
            toks = token_re.findall(raw) if isinstance(raw, str) else []
            if len(toks) < k:
                lists.append([])
                continue
            lists.append(
                list(
                    dict.fromkeys(
                        h60(" ".join(toks[i : i + k]))
                        for i in range(len(toks) - k + 1)
                    )
                )
            )
        lens = np.fromiter(
            (len(sh) for sh in lists), dtype=np.int64, count=len(lists)
        )
        nz = np.flatnonzero(lens)
        keys = np.zeros((n_bands, len(lists)), dtype=np.int64)
        if nz.size:
            total = int(lens.sum())
            flat = np.fromiter(
                (h for sh in lists for h in sh), dtype=np.int64, count=total
            )
            hmod = flat % p_mod
            starts = np.zeros(nz.size, dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            mins = np.empty((n_seeds, nz.size), dtype=np.int64)
            for i in range(n_seeds):
                mins[i] = np.minimum.reduceat(
                    (seeds_a[i] * hmod + seeds_b[i]) % p_mod, starts
                )
            for j in range(n_bands):
                kj = mins[j * band_rows_n]
                for r in range(1, band_rows_n):
                    kj = kj * 31 + mins[j * band_rows_n + r]
                keys[j, nz] = kj
        out = {"sh60": pd.Series(lists)}
        empty = lens == 0
        for j in range(n_bands):
            col = keys[j].astype(object)
            col[empty] = None
            out[f"k{j}"] = pd.Series(col)
        return pd.DataFrame(out)

    return _docs.asNondeterministic()(text_col)


def with_token_boundary(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """(id, toks) with the token array materialized behind an exchange.

    Why the explicit boundary: higher-order shingle expressions index the
    token array per element, and CollapseProject re-inlines a same-stage
    ``tokens_expr`` into every one of those references — the plan then
    re-runs the whole-document regexp once per ``element_at`` (observed:
    6x per shingle).  A repartition makes ``toks`` a shuffled attribute,
    so downstream lambdas do cheap array reads.  The shuffle also fans a
    single-file scan out to every core; at 100 TB the scan is already
    thousands of splits and tokens-per-shuffle is the same data volume the
    shingle join shuffles anyway.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return (
        spread(df)
        .select(F.col(id_col), tokens_expr(F.col(text_col)).alias("toks"))
        .repartition(n)
    )


def with_shingle_hashes(df: DataFrame, shingle_col: str = "shingles") -> DataFrame:
    """Add ``sh60``: the distinct 60-bit hashes of the shingle set.

    This is THE md5 pass — everything downstream (16 minhash permutations,
    the candidate join, the Jaccard verification) works on these longs, so
    each shingle is hashed exactly once no matter how many consumers the
    plan has.  Distinct-hash Jaccard equals distinct-string Jaccard up to
    60-bit collisions (~1e-7 at 10^6 distinct shingles).
    """
    return df.withColumn(
        "sh60",
        F.array_distinct(
            F.transform(F.col(shingle_col), lambda s: hash60_expr(s))
        ),
    )


# -- exact dedup -------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep the lowest id per identical content; report group size.

    GroupBy on a 60-bit content hash: the shuffle carries (hash, id) pairs,
    not document bodies.
    """
    return (
        df.select(
            F.col(id_col), hash60_expr(F.col(content_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -- MinHash + LSH -----------------------------------------------------------


def with_minhash_signature(df: DataFrame, shingle_col: str = "shingles") -> DataFrame:
    """Add mh0..mh15 columns (NULL for shingle-less docs, filtered out).

    When the frame carries precomputed shingle hashes (``sh60`` from
    :func:`with_shingle_hashes`), each permutation is pure integer
    arithmetic over longs — md5 runs once per shingle, not once per
    (shingle, seed).  min over distinct hashes == min over all hashes.
    """
    if "sh60" in df.columns:
        hmod = F.transform(F.col("sh60"), lambda h: h % F.lit(P))
        df = df.withColumn("_hmodp", hmod)
        cols = {
            f"mh{i}": F.array_min(
                F.transform(
                    F.col("_hmodp"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(P),
                )
            )
            for i, (a, b) in enumerate(MINHASH_SEEDS)
        }
        return (
            df.withColumns(cols)
            .drop("_hmodp")
            .filter(F.size(F.col(shingle_col)) > 0)
        )
    sh = F.col(shingle_col)
    cols = {
        f"mh{i}": minhash_value_expr(sh, a, b)
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    }
    return df.withColumns(cols).filter(F.size(sh) > 0)


def lsh_band_entries(sig_df: DataFrame, id_col: str) -> DataFrame:
    """(id, band, key) rows — one per LSH band per signed document."""
    mh = [F.col(f"mh{i}") for i in range(len(MINHASH_SEEDS))]
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        band_key_expr(mh, j).alias("key"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def incremental_neardup_flags(
    existing_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental dedup: flag each NEW document that near-duplicates the
    EXISTING corpus (the don't-re-ingest pass every recurring crawl
    refresh runs before appending a snapshot).

    Asymmetric MinHash-LSH: both sides sign once; candidates come from a
    new-side x existing-side band equi-join (never new x new — within-
    snapshot dups are the ordinary dedup pass, not this one); candidates
    are verified with exact shingle-set Jaccard, and each new doc reports
    its best existing match (highest Jaccard, ties to the lowest existing
    id) or survives with ``is_dup = false``.

    Scale shape: the band join shuffles (id, band, key) rows only; the
    verify join carries the 60-bit shingle-hash arrays for CANDIDATES
    only (LSH-bucket-bounded).  The existing corpus is signed, not
    re-read per batch — in production its band table is a materialized
    artifact the refresh job appends to.  r14: both sides use the fused
    sh60+band-keys Arrow pass (:func:`sh60_bands_pandas_expr`), so the
    16 interpreted permutation folds per side are gone."""

    def prep(df: DataFrame, out_id: str) -> DataFrame:
        # same fused zero-shuffle Arrow docs build as
        # minhash_candidate_pairs (sh60 + flat band-key columns)
        return band_docs(
            df.select(F.col(id_col).alias(out_id), F.col(text_col)),
            out_id,
            text_col,
        ).withColumnRenamed("sh60", f"sh_{out_id}")

    old_docs = prep(existing_df, "old_id")
    new_docs = prep(new_df, "new_id")
    old_bands = band_rows(old_docs, "old_id")
    new_bands = band_rows(new_docs, "new_id")
    cands = (
        new_bands.join(old_bands, ["band", "key"])
        .select("new_id", "old_id")
        .distinct()
    )
    verified = (
        cands.join(new_docs.select("new_id", "sh_new_id"), "new_id")
        .join(old_docs.select("old_id", "sh_old_id"), "old_id")
        .withColumn(
            "i",
            F.size(F.array_intersect("sh_new_id", "sh_old_id")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("i").cast("double")
            / (
                F.size("sh_new_id") + F.size("sh_old_id") - F.col("i")
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("old_id")
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", "old_id", "jaccard")
    )
    return (
        new_df.select(F.col(id_col))
        .join(best, F.col(id_col) == F.col("new_id"), "left")
        .select(
            id_col,
            F.col("old_id").alias("dup_of"),
            "jaccard",
            F.col("old_id").isNotNull().alias("is_dup"),
        )
    )


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str) -> DataFrame:
    """Distinct (a, b) candidate pairs sharing at least one LSH band."""
    from ..cache import scoped_persist

    mh = [F.col(f"mh{i}") for i in range(len(MINHASH_SEEDS))]
    bands = scoped_persist(
        sig_df.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            band_key_expr(mh, j).alias("key"),
                        )
                        for j in range(N_BANDS)
                    ]
                )
            ).alias("bk"),
        ).select(id_col, "bk.band", "bk.key")
        # both sides of the self-join consume this: without the persist
        # each side re-runs the 16 interpreted minhash permutations over
        # the cached sh60 arrays (r13; rows are 3 longs per (doc, band))
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.key") == F.col(f"b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Pairs with set-Jaccard >= threshold over distinct shingles.

    With ``candidates`` (from LSH) the verification join is restricted to
    bucket-mates; without, it is the full explode-join (oracle / small
    scale only).
    """
    exploded = scoped_persist(
        spread(df)
        .select(F.col(id_col), F.explode(F.col(shingle_col)).alias("s"))
        .distinct()
        # three consumers below (both join sides + counts): evaluate the
        # shingle explode + distinct once; released via release_caches()
    )
    counts = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"], "left_semi")
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def candidate_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard for candidate pairs only, over the ``sh60`` hash sets.

    Scale shape: the shingle equi-join is *restricted to candidate pairs
    before any counting* — work is O(|candidates| * shingles_per_doc), not
    O(all docs sharing any shingle).  Set sizes come free from
    ``size(sh60)`` (no extra aggregation pass).
    """
    ex = docs.select(F.col(id_col), F.explode("sh60").alias("h"))
    sizes = docs.select(F.col(id_col), F.size("sh60").alias("n"))
    a_sh = ex.select(F.col(id_col).alias("id_a"), F.col("h"))
    b_sh = ex.select(F.col(id_col).alias("id_b"), F.col("h"))
    inter = (
        candidates.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def band_rows(docs: DataFrame, id_col: str) -> DataFrame:
    """(id, band, key) rows from the flat ``k0..k3`` columns a
    :func:`sh60_bands_pandas_expr` docs frame carries — a trivial
    4-struct explode off the docs cache; all signature compute already
    happened inside the Arrow pass."""
    return docs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.col(f"k{j}").alias("key"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def band_docs(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """The persisted MinHash docs frame: (id, sh60, k0..k3) from ONE
    zero-shuffle ArrowEvalPython pass (see
    :func:`sh60_bands_pandas_expr`), size-filtered to signed documents.
    Materialized once: both sides of the band self-join and the Jaccard
    verification join consume it."""
    raw = spread(df).select(
        F.col(id_col), sh60_bands_pandas_expr(F.col(text_col)).alias("_mh")
    )
    return scoped_persist(
        raw.select(
            F.col(id_col),
            F.col("_mh.sh60").alias("sh60"),
            *[F.col(f"_mh.k{j}").alias(f"k{j}") for j in range(N_BANDS)],
        ).filter(F.size("sh60") > 0)
        # The size filter and field extraction sit ABOVE the Arrow node
        # (asNondeterministic pins a single ArrowEvalPython — guide §4.4;
        # verified one node in plans/r14).
    )


def minhash_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(hashed-shingle docs, LSH candidate id pairs) — the candidate-
    generation front of :func:`minhash_neardup_pairs`, exposed separately
    so an index EVALUATION (llm_dedup_lsh_eval) can measure the candidate
    set against exact-Jaccard ground truth.

    r14: the docs frame carries the 4 band keys as flat long columns
    from the same Arrow pass that builds sh60, so the candidate join is
    explode + self-join off the docs cache — the 16 interpreted MinHash
    permutation folds and the separate persisted band table are gone."""
    docs = band_docs(df, id_col, text_col)
    bands = band_rows(docs, id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return docs, cands


def minhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", threshold: float = 0.8
) -> DataFrame:
    """Full pipeline: shingle -> hash once -> minhash -> LSH bands ->
    bucket join -> candidate-restricted exact Jaccard verification.  The
    only quadratic work happens inside buckets."""
    docs, cands = minhash_candidate_pairs(df, id_col, text_col)
    return candidate_jaccard_pairs(docs, cands, id_col, threshold)


# -- SimHash -----------------------------------------------------------------


def simhash_expr(toks: Column) -> Column:
    """32-bit SimHash over token hashes (bit j set iff the sum of +-1 votes
    from each token's bit j is positive).

    ONE fold with an array-of-votes accumulator: the earlier form built
    32 separate ``aggregate`` expressions over the shared token-hash
    array, and Catalyst's project collapse re-inlined the md5 transform
    into every one of them — 32 md5 evaluations per token, measured 8x
    slower at sf0.1 (10.5 s vs 1.2 s for 5 k docs) and the dominant cost
    of b24_stream_neardup_history at sf1.  The single fold evaluates
    md5 once per token and updates all 32 vote counters per step
    (bit-identical output, zero shuffle; literal mask array because
    ``shiftright`` takes only literal shift counts inside lambdas)."""
    masks = F.array(
        *[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)]
    )
    th = F.transform(toks, lambda t: hash60_expr(t))
    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_pandas_expr(text_col: Column) -> Column:
    """Arrow-batched SimHash: tokenize + md5-per-token + all 32 bit votes
    in ONE zero-shuffle ArrowEvalPython projection (optimization r14).

    What it replaces: :func:`simhash_df`'s explode + 32-sum groupBy.
    SimHash is a row-local feature — the explode and the hash aggregate
    existed for the formulation (md5 once per token under Catalyst),
    not the data, so the exchange they cost is pure overhead (guide
    §2.4).  The Arrow pass tokenizes with the C regex engine, md5s each
    UNIQUE token once per worker (memo — token distributions are heavy-
    tailed), and folds the per-bit votes vectorized: one flat token-hash
    array per batch, 32 ``np.add.reduceat`` per-document bit counts,
    votes = 2*ones - n.

    Bitwise parity (pinned in tests): same 60-bit md5 identity as
    ``hash60_expr``; vote sign per occurrence (NOT distinct tokens),
    exactly the old SUM(+1/-1); zero-token documents (NULL/empty/
    whitespace text) emit 0, matching the old ``explode_outer`` NULL row
    whose votes were all -1.  ``asNondeterministic`` pins a single Arrow
    node under multi-reference consumers (band explodes reference the
    column 5x — guide §4.4)."""
    import hashlib
    import re as _re

    import numpy as np

    from pyspark.sql.functions import pandas_udf

    from .text import TOKEN_RE

    token_re = _re.compile(TOKEN_RE)
    bits = SIMHASH_BITS

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        memo: dict = {}  # token -> 60-bit hash, per worker

        def h60(t):
            v = memo.get(t)
            if v is None:
                v = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                memo[t] = v
            return v

        lists = []
        for raw in texts:
            toks = token_re.findall(raw) if isinstance(raw, str) else []
            lists.append([h60(t) for t in toks])
        lens = np.fromiter(
            (len(hs) for hs in lists), dtype=np.int64, count=len(lists)
        )
        out = np.zeros(len(lists), dtype=np.int64)
        nz = np.flatnonzero(lens)
        if nz.size:
            flat = np.fromiter(
                (h for hs in lists for h in hs),
                dtype=np.int64,
                count=int(lens.sum()),
            )
            starts = np.zeros(nz.size, dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            n_tok = lens[nz]
            val = np.zeros(nz.size, dtype=np.int64)
            for j in range(bits):
                ones = np.add.reduceat((flat >> j) & 1, starts)
                val |= ((2 * ones - n_tok) > 0).astype(np.int64) << j
            out[nz] = val
        return pd.Series(out)

    return _simhash.asNondeterministic()(text_col)


def simhash_df(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry_cols, simhash) — ONE zero-shuffle Arrow projection
    (see :func:`simhash_pandas_expr`).

    r14: replaces the explode + 32-sum hash aggregation (whose exchange
    existed only so md5 would run once per token under Catalyst — the
    Arrow pass gets that for free with a per-worker memo).  ``carry_cols``
    are now just extra projected columns; before, they rode the groupBy
    as functionally-dependent keys to avoid a join-back (r13).
    ``simhash_expr`` remains for composing into row-level Catalyst
    expressions."""
    carry = [F.col(c) for c in carry_cols]
    return spread(df).select(
        F.col(id_col),
        *carry,
        simhash_pandas_expr(F.col(text_col)).alias("simhash"),
    )


def simhash_band_entries(sh: Column) -> Column:
    """Array of (band, key) structs for the exact 4x8-bit SimHash banding
    — THE single definition of the band layout; the batch pair join and
    the streaming near-dup suppressor both explode this, so a layout
    change cannot silently diverge between them."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(sh, 8 * j).bitwiseAND(F.lit(255)).alias("key"),
            )
            for j in range(SIMHASH_BANDS)
        ]
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Hamming-<=3 pairs via exact 4-band LSH (8-bit bands; pigeonhole
    guarantees no misses, so this equals the quadratic join)."""
    sh = simhash_df(df, id_col, text_col)
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(simhash_band_entries(F.col("simhash"))).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# -- embedding near-dup ------------------------------------------------------


def embedding_neardup_pairs(
    emb_df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Cosine >= threshold pairs by blocked quadratic join.

    TEST-ONLY oracle helper: exact all-pairs ground truth for measuring
    the banded-LSH path's recall (tests/test_clustering.py).  It is NOT a
    registry query — the advertised operator is
    similarity.embedding_neardup_pairs_lsh, whose pair work scales with
    LSH bucket size instead of O(corpus^2)."""
    a = spread(emb_df).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = emb_df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(cosine_similarity_expr(F.col("va"), F.col("vb")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# -- near-dup clustering (connected components) ------------------------------


CC_MERGE_FAN = 64  # star edges funnel by this factor per merge level


def _uf_stars_pass():
    """The per-partition union-find pass shared by every level of
    :func:`connected_components`: consume the partition's (u, v) pairs,
    union them with min-root union-find (path compression; union always
    parents the LARGER root under the smaller, so a tree's root is the
    minimum node id seen in its component), and emit ONE (node ->
    local_root) star row per distinct node in the partition — roots
    included, as (r, r).  Output is a pure function of the partition's
    ROW SET (order-independent: union-find's final partition of the node
    set and the min of each part do not depend on edge order), so task
    retries are deterministic under Spark's sort-before-repartition."""
    import numpy as np

    def stars(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(
                pdf["u"].to_numpy(dtype="int64", copy=False),
                pdf["v"].to_numpy(dtype="int64", copy=False),
            ):
                a = int(a)
                b = int(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if parent:
            nodes = np.fromiter(parent, dtype=np.int64, count=len(parent))
            roots = np.fromiter(
                (find(int(n)) for n in nodes), dtype=np.int64, count=len(nodes)
            )
            yield pd.DataFrame({"u": nodes, "v": roots})

    return stars


def connected_components(
    pairs_df: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Connected components over an undirected pair graph: every node gets
    ``cluster_id`` = the minimum node id reachable from it.

    Distributed union-find funnel (r14 rework of the r13 min-label
    propagation loop).  The r13 shape was a driver-synchronized fixpoint:
    each round a shuffle join + aggregate + persist + ``count()`` action,
    O(graph diameter) rounds — the 8→32-core scaling ratio was 0.82
    (adding cores made it SLOWER; every round is driver latency), and a
    chain-shaped dup graph makes the round count unbounded at 100 TB.
    The rework has ZERO driver actions and a round count fixed at plan
    time (O(log_fan parallelism)), independent of graph shape:

    - **Level 1** (no shuffle): each task runs an exact union-find over
      its partition's pairs and emits star edges (node -> local
      component min) — one row per distinct node in the partition.
    - **Merge levels** (``repartition(n/fan, "u")`` + the same pass):
      hash-partitioning by node co-locates every star edge of a node, so
      local union-find fuses the components it links; the star set
      shrinks toward one row per node.
    - **Final level** (``repartition(1)`` + the same pass): one task
      union-finds the funneled star set and emits the global labels.
      It runs at every parallelism, one slot included: level 1 runs
      over every partition of ``pairs_df``, so its stars need a global
      merge even when the session has no merge levels.

    The id columns must be integral; any other type raises ``TypeError``
    (a cast would turn a misused string id into NULL).

    Exactness (this is NOT an approximation — no fixpoint, no
    convergence check needed): (1) within any subset of edges,
    union-find computes the exact components of that subgraph, and the
    emitted stars have the SAME connectivity over the same node set
    (u ~ v in the subgraph iff both reach the same local root); (2)
    connectivity of a union of edge sets depends only on each set's
    connectivity relation, so replacing every partition's edges by its
    stars preserves global connectivity, level by level (induction);
    (3) every node of the input appears in every level's output (each
    node has an incident pair, so its local component is nonempty and
    the pass emits its star row — roots emit (r, r)); (4) therefore the
    final single-task pass sees a graph with exactly the input's
    connectivity over exactly the input's node set, and min-root
    union-find labels every node with the minimum reachable id — the
    same fixpoint the r13 label propagation converged to.  Pinned
    against a pure-Python union-find in tests/test_clustering.py.

    Scale notes: duplicate/reversed pairs need no ``distinct`` (union on
    an already-merged pair is a no-op), both edge directions need no
    explode (union-find is symmetric), and the output is independent of
    HOW rows are partitioned — only intermediate star sets vary, never
    the final labels.  The funnel's last task holds at most one row per
    node that survives its fan-in (near-dup graphs are overwhelmingly
    tiny cliques, which collapse at level 1); for adversarially dense
    graphs raise ``CC_MERGE_FAN`` levels by lowering the fan.  The
    output is ``scoped_persist``-ed: consumers (soft weights, survivor
    selection) reference it from 2+ plan branches, and the old shape
    materialized via localCheckpoint anyway."""
    for c in (a_col, b_col):
        t = pairs_df.schema[c].dataType
        if not isinstance(t, T.IntegralType):
            raise TypeError(
                f"connected_components: id column {c!r} must be integral, "
                f"got {t.simpleString()}"
            )
    edges = pairs_df.select(
        F.col(a_col).cast("long").alias("u"),
        F.col(b_col).cast("long").alias("v"),
    )
    stars = _uf_stars_pass()
    out = edges.mapInPandas(stars, "u long, v long")
    # Merge-level count is derived from the session's parallelism (a
    # plan-time constant — probing the actual partition count would
    # compile the upstream plan twice), so the funnel deepens with the
    # cluster, not with a constant tuned for local mode.  The single-task
    # pass always runs: level 1 covers every partition of ``pairs_df``,
    # however small the session's parallelism.
    n = pairs_df.sparkSession.sparkContext.defaultParallelism
    while n > CC_MERGE_FAN:
        n = (n + CC_MERGE_FAN - 1) // CC_MERGE_FAN
        out = out.repartition(n, "u").mapInPandas(stars, "u long, v long")
    out = out.repartition(1).mapInPandas(stars, "u long, v long")
    return scoped_persist(
        out.select(
            F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
        )
    )


# -- duplicated-span statistics (ExactSubstr-style signal) -------------------


def spans_expr(toks: Column, k: int) -> Column:
    """Word k-gram spans (space-joined); empty array for docs shorter
    than k tokens (same ``when`` guard rationale as :func:`shingles_expr`)."""
    n = F.size(toks)
    make = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(k)]
        ),
    )
    return F.when(n >= k, make).otherwise(F.array().cast("array<string>"))


def duplicated_span_stats(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Per-document duplicated-span statistics: which fraction of a doc's
    word k-gram spans also occurs in at least one OTHER document.

    This is the span-level dedup signal from "Deduplicating Training Data
    Makes Language Models Better" (ExactSubstr), re-expressed relationally:
    instead of a suffix array, distinct (doc, span-hash) pairs shuffle once
    to count each span's document frequency, then join back for the
    per-doc rollup.  Only 60-bit hashes cross the shuffles — never span
    text — so shuffle volume is ~8 bytes/span.  Docs shorter than ``k``
    tokens report 0 spans (left join back to the id spine).
    """
    tok = with_token_boundary(df, id_col, text_col)
    # Two consumers (the span-frequency aggregate and the per-doc join):
    # persist the hash pass so tokenize+md5 runs once, as in minhash.
    ex = scoped_persist(
        tok.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(
                        spans_expr(F.col("toks"), k), lambda s: hash60_expr(s)
                    )
                )
            ).alias("h"),
        )
    )
    counts = ex.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        ex.join(counts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("n_docs") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_spans"), F.lit(0)) > 0,
                    F.col("n_dup_spans").cast("double")
                    / F.col("n_spans").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 8
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL: rewrite every document
    with the token positions covered by any cross-document duplicated
    word k-gram deleted (Lee et al. 2021, arXiv:2107.06499 — the rewrite
    step, not just the signal :func:`duplicated_span_stats` computes).

    Semantics: a k-gram is duplicated when it occurs in >= 2 distinct
    documents; every token covered by such a span is removed from ALL
    documents carrying it.  (Symmetric removal is slightly more
    aggressive than suffix-array ExactSubstr's keep-one-occurrence, but
    it is deterministic, order-free, and engine-portable — the properties
    a distributed rewrite needs.)

    Scale shape: only (doc, pos, hash60) triples cross the shuffles —
    span text never moves.  The covered-position set comes back as ONE
    small int-array row per affected document (positions, not tokens), so
    the rewrite itself is a per-row lambda over the original token array
    with zero additional shuffle of text.
    """
    tok = scoped_persist(with_token_boundary(df, id_col, text_col))
    sp = scoped_persist(
        tok.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    spans_expr(F.col("toks"), k), lambda s: hash60_expr(s)
                )
            ).alias("pos", "h"),
        )
    )
    dup = (
        sp.select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    cov = (
        sp.join(dup, "h")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tpos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("tpos").alias("cov"))  # order never observed
    )
    covc = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    # O(n_tokens + n_covered) rewrite: hash-based array_except of the
    # position spine (kept positions come back in spine order), then one
    # element_at per kept position — instead of an O(n x cov) per-token
    # array_contains scan that stragglers a mostly-duplicated document.
    # (sequence(0, -1) would DESCEND on an empty token array — guard it)
    kept_pos = F.when(
        F.size("toks") > 0,
        F.array_except(F.sequence(F.lit(0), F.size("toks") - 1), covc),
    ).otherwise(F.array().cast("array<int>"))
    return tok.join(cov, id_col, "left").select(
        F.col(id_col),
        F.size("toks").cast("long").alias("n_tokens"),
        # F.size(covc) not F.size(cov): with ANSI off, size(null) is -1
        # (legacy sizeOfNull), so the null-coalesce must happen inside.
        F.size(covc).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                kept_pos, lambda p: F.element_at(F.col("toks"), p + 1)
            ),
            " ",
        ).alias("clean_text"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """Directional CONTAINMENT over LSH candidate pairs: for each pair,
    |A∩B|/|A| and |A∩B|/|B| over distinct hashed shingles.

    Jaccard misses the quote/boilerplate case — a short document pasted
    inside a long one has tiny union-relative overlap but containment
    ~1.0 on the short side; this operator surfaces exactly those.
    Candidates come from the same deterministic MinHash banding as
    :func:`minhash_neardup_pairs` (both engines replicate it, so even
    banding misses agree); at 100 TB a containment-tuned candidate
    policy (prefix banding on the smaller set) slots in at the same
    seam without touching the verify stage.  Both containment ratios
    round to 6dp BEFORE thresholding, so the cut is cross-engine exact.
    """
    docs, cands = minhash_candidate_pairs(df, id_col, text_col)
    ex = docs.select(F.col(id_col), F.explode("sh60").alias("h"))
    sizes = docs.select(F.col(id_col), F.size("sh60").alias("n"))
    inter = (
        cands.join(ex.select(F.col(id_col).alias("id_a"), "h"), "id_a")
        .join(ex.select(F.col(id_col).alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    scored = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cont_a_in_b",
            F.round(F.col("i").cast("double") / F.col("na").cast("double"), 6),
        )
        .withColumn(
            "cont_b_in_a",
            F.round(F.col("i").cast("double") / F.col("nb").cast("double"), 6),
        )
    )
    return (
        scored.filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
        .select(
            "id_a",
            "id_b",
            F.col("i").cast("long").alias("n_common"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "cont_a_in_b",
            "cont_b_in_a",
        )
    )
