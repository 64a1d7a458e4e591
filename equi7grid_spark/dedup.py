"""Deduplication & similarity operators for the documents/embeddings
tables (training-data-pipeline ops; SURVEY.md graft additions).

Each operator keeps the arithmetic of its DuckDB value oracle in
queries.py. Most are built-in Spark SQL (shingling via array lambdas,
SimHash via hex-digit parities, LSH bands via ordered aggregation);
minhash_wide is one mapInPandas pass (md5-keyed minima), and the
embedding banding and cosine verify are compiled kernel calls
(operators/kernel). The md5-as-uniform-hash trick keeps the hash function
engine-independent (both engines implement RFC 1321), unlike
Spark's murmur `hash()` vs DuckDB's internal `hash()`.

Scale notes (10^12 rows): shingle explosion is the dominant cost —
the LSH design only shuffles (band_sig → doc) pairs, never documents;
candidate verification joins are restricted to same-bucket pairs.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from equi7grid_spark.operators.partitioning import spread_small_input

N_PERMS = 8
BAND_SIZE = 4  # → 2 bands


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def shingles(text: Column, n: int = 3) -> Column:
    """Token n-gram shingles as an array<string> Column.

    Guarded: Spark's sequence(1, 0) would generate a *descending* [1,0]
    array, so short texts explicitly yield an empty array (matching
    DuckDB generate_series(1, 0) = [])."""
    toks = tokens(text)
    n_sh = F.size(toks) - (n - 1)
    idx = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded, distinct per doc.

    Dedup happens INSIDE the row (array_distinct before the explode),
    not via DataFrame.distinct(): per-doc uniqueness needs no global
    shuffle — at 10^12 docs a distinct() here would shuffle the entire
    shingle explosion."""
    return spread_small_input(docs).select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("text"), n))).alias("shingle"),
    )


def minhash_wide(docs: DataFrame, n_perms: int = N_PERMS) -> DataFrame:
    """(doc_id, m0..m{n-1}): MinHash signature with NO shuffle at all.

    Each shingle is md5'd ONCE; permutation p's hash is hex segment
    [4p, 4p+4) of that digest (md5 bits are independent, so disjoint
    segments are independent 16-bit uniform hashes). min over shingles
    of segment p is then a valid MinHash. Fixed-length lowercase hex
    compares lexicographically == numerically, so the string min is
    the numeric min.

    Round 7: ONE vectorized Python pass (mapInPandas) replaces the
    interpreted HOF chain. The shingle construction (split + slice +
    join), the per-shingle md5 and the 8 per-segment minima are ALL
    CodegenFallback HOFs in the Column form — every row ran
    interpreted, and the 8 array_min consumers re-walked the digest
    array 8x (no CSE in interpreted eval). Here: stdlib hashlib.md5
    per shingle (identical bytes in → identical hex out as Spark's
    md5(cast binary) — both RFC 1321 over the UTF-8 encoding), then
    one numpy S32→(n,8)xS4 view + column-wise min per doc (ASCII-hex
    byte order == lexicographic == numeric). A/B at sf1 (50k docs,
    2.6M shingles): minhash_wide noop 1.03s → see OPTIMIZATION_r07.
    Row-drop semantics match the former explode shape exactly: a doc
    emits a row iff text is non-null AND has >= 3 tokens (>= 1
    shingle); str.split(' ') keeps empty tokens exactly like Spark's
    split on ' '. Scale shape unchanged: narrow (doc_id, text)
    projection in, signature-sized rows out, no shuffle."""
    if 4 * n_perms > 32:
        raise ValueError("n_perms > 8 exceeds the md5 hex digest")
    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = ", ".join(
        [f"doc_id {id_type}"] + [f"m{p} string" for p in range(n_perms)]
    )
    cols = [f"m{p}" for p in range(n_perms)]

    def sigs(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, mins = [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                if txt is None:
                    continue
                toks = txt.split(" ")
                ns = len(toks) - 2
                if ns < 1:
                    continue
                digs = [
                    hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()
                    for i in range(ns)
                ]
                # ASCII hex compares lexicographically == as big-endian
                # u32 — numpy reduces integers, not byte strings
                seg = (
                    np.array(digs, dtype="S32")
                    .view(">u4")
                    .reshape(ns, 8)[:, :n_perms]
                )
                ids.append(doc_id)
                mins.append(seg.min(axis=0).astype(">u4").tobytes())
            out = pd.DataFrame(
                [
                    [i, *(b[4 * p : 4 * p + 4].decode() for p in range(n_perms))]
                    for i, b in zip(ids, mins)
                ],
                columns=["doc_id", *cols],
            )
            yield out

    return spread_small_input(docs.select("doc_id", "text")).mapInPandas(
        sigs, schema=schema
    )


def lsh_buckets(docs: DataFrame, n_perms: int = N_PERMS, band_size: int = BAND_SIZE) -> DataFrame:
    """(band, band_sig, doc_id): LSH banding of the MinHash signature —
    docs sharing a (band, band_sig) bucket are near-duplicate candidates."""
    wide = minhash_wide(docs, n_perms)
    n_bands = n_perms // band_size
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"m{b * band_size + k}")
                                for k in range(band_size)
                            ],
                        ).cast("binary")
                    ).alias("band_sig"),
                )
                for b in range(n_bands)
            ]
        )
    ).alias("bb")
    return wide.select("doc_id", bands).select("bb.band", "bb.band_sig", "doc_id")


def minhash_candidate_groups(docs: DataFrame) -> DataFrame:
    """Buckets with >1 doc: (band, band_sig, n_docs, rep_id)."""
    b = lsh_buckets(docs)
    return (
        b.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("rep_id"))
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard similarity for LSH candidate pairs only:
    same-bucket pairs → shared-shingle counts → |A∩B|/|A∪B|.
    The pair join is bucket-limited, never all-pairs."""
    b = lsh_buckets(docs).select("band", "band_sig", "doc_id").distinct()
    pairs = (
        b.alias("l")
        .join(b.alias("r"), ["band", "band_sig"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    sh = doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        inter.join(sizes.alias("za"), F.col("a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("b") == F.col("zb.doc_id"))
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "a", "b", F.round("jaccard", 9).alias("jaccard")
    )


def duplicate_clusters(
    docs: DataFrame, threshold: float = 0.8, max_iter: int = 20
) -> DataFrame:
    """Connected components over the verified near-duplicate graph:
    (doc_id, cluster_id = min doc_id in the component), one row per doc
    that has at least one verified near-duplicate.

    The canonical training-pipeline closer for dedup: LSH candidates →
    exact Jaccard verify (edges) → transitive clustering → keep one
    representative per cluster (cluster_id IS the canonical doc)."""
    pairs = ngram_jaccard_pairs(docs, threshold).select("a", "b")
    return connected_components(pairs, max_iter).select(
        F.col("id").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


def _sized_checkpoint(df: DataFrame, *aggs: Column) -> tuple[DataFrame, list]:
    """Eager localCheckpoint of `df` and its row count, plus the values
    of any further aggregates `aggs` over it: (frame, [rows, *aggs]).

    The values are read in the checkpoint's own job through a
    pyspark.sql.Observation, so sizing costs no extra job. They exist
    for the size gate (_fits_broadcast): a checkpoint keeps the size
    estimate of the plan that built it, and estimates explode through
    joins (a 4.4 MB image corpus plans at 12.8 TB after its phash join
    and about 10^73 B at its pair list), so every join over a
    checkpoint would otherwise plan as a sort-merge join whose two
    shuffle-map stages run as jobs before AQE demotes it to a
    broadcast."""
    obs = Observation()
    cp = df.observe(
        obs, F.count(F.lit(1)).alias("_rows"),
        *[c.alias(f"_a{i}") for i, c in enumerate(aggs)],
    ).localCheckpoint()
    got = obs.get
    return cp, [got["_rows"], *(got[f"_a{i}"] for i in range(len(aggs)))]


def _fits_broadcast(df: DataFrame, rows: int, row_bytes: int = 0) -> bool:
    """The size gate: whether `rows` rows of `df` fit the session's
    spark.sql.autoBroadcastJoinThreshold, sizing a row as Spark's
    default size of the schema (its per-type defaults; an array counts
    one element) plus its 8-byte row overhead plus `row_bytes`. Never
    at a negative threshold; and at 10^12-row scale nothing fits, so
    callers that broadcast only when this holds keep their shuffle
    plans there."""
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= rows * (8 + df._jdf.schema().defaultSize() + row_bytes) <= limit


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over an undirected edge list: the first two
    columns of `pairs` are the endpoints (any orderable id type).
    Returns (id, lab) with lab = min id reachable, one row per id that
    appears in at least one edge. A pair with a null endpoint is no
    edge: it is dropped before anything else, so a null never gets a
    row and never joins or splits a component.

    Scale shape: min-label propagation with pointer jumping — each
    round hooks label(v) ← min(label(v), min over neighbors), then
    compresses label(v) ← label(label(v)). Hooking alone needs
    O(component diameter) rounds; the jump makes the hop distance to
    the component minimum roughly halve per round, so long chains
    (re-encode sequences, quote chains) converge in O(log diameter)
    rounds. Round 1 is not counted; the rounds stop at the first later
    round that changes no label, after at most max_iter + 1 rounds
    (a component whose diameter equals max_iter still converges), and
    a graph still changing then raises RuntimeError. Labels start as
    own ids and only ever decrease to ids inside the same component,
    so changed == 0 is exactly the propagation fixed point (labels
    constant along every edge ⇒ equal to the component minimum). No
    driver-side graph state — the driver sees only the edge count and
    the changed count.

    Size gate: the symmetric edge list is checkpointed once with its
    row count (_sized_checkpoint). It picks the executor of the
    rounds, which are defined once and run the same either way:
    - when the list fits the session's
      spark.sql.autoBroadcastJoinThreshold (_fits_broadcast) and the
      ids are integers or binary-collated strings (whose pandas order
      is Spark's), every round runs in ONE NumPy task over the
      coalesced list (_cc_rounds), in one job, and the last round's
      changed count is read in the label checkpoint's own job. A
      Spark round costs several jobs of fixed driver work however
      few its rows;
    - otherwise, and always at a negative threshold, each round is a
      Spark hook join + groupBy and a pointer-jump self-join, and
      localCheckpoints the label frame (truncating the lineage growth
      that kills iterative DataFrame jobs at scale), with its changed
      count observed in that checkpoint's job (_spark_rounds).
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    a_col, b_col = pairs.columns[:2]
    a, b = F.col(a_col), F.col(b_col)
    # the symmetric edge list in one pass over the pairs (each pair
    # emits both orientations), checkpointed once: the rounds read it,
    # and the upstream pair enumeration runs exactly once
    edges, (n_edges,) = _sized_checkpoint(
        pairs.filter(a.isNotNull() & b.isNotNull()).select(
            F.inline(
                F.array(
                    F.struct(a.alias("a"), b.alias("b")),
                    F.struct(b.alias("a"), a.alias("b")),
                )
            )
        )
    )
    id_type = edges.schema["a"].dataType
    if (
        isinstance(id_type, T.IntegralType) or id_type == T.StringType()
    ) and _fits_broadcast(edges, n_edges):
        t = id_type.simpleString()
        out, (_, changed) = _sized_checkpoint(
            edges.coalesce(1).mapInPandas(
                partial(_cc_rounds, max_iter=max_iter),
                f"id {t}, lab {t}, _changed bigint",
            ),
            F.max("_changed"),
        )
        # no edge: no row, and a max over nothing is null
        labels, changed = out.select("id", "lab"), changed or 0
    else:
        labels, changed = _spark_rounds(edges, max_iter)
    if changed != 0:
        # a component with diameter > max_iter would otherwise return
        # silently-partial labels (and diverge from the oracle's exact
        # transitive closure) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter for "
            "long-chain components"
        )
    return labels


def _cc_rounds(batches, max_iter: int):
    """The one-task executor of connected_components: the same rounds
    as the Spark path, in NumPy over the whole symmetric edge list
    (one mapInPandas task over the coalesced checkpoint).

    Ids become pd.factorize codes with sort=True, so code order is id
    order and a min over codes is the min over ids. A round hooks
    new(v) = min(lab(v), min lab(w) over neighbours w) with
    np.minimum.at, then jumps new(v) = new(new(v)). Round 1 is not
    counted; the rounds stop at the first later round that changes no
    label, after at most max_iter + 1 rounds. Every row carries the
    changed count of the last round run in `_changed`, nonzero only
    when the labels did not converge."""
    import numpy as np
    import pandas as pd

    e = [pdf for pdf in batches if len(pdf)]
    if not e:
        return
    e = pd.concat(e, ignore_index=True)
    n = len(e)
    codes, ids = pd.factorize(
        np.concatenate([e["a"].to_numpy(), e["b"].to_numpy()]), sort=True
    )
    a, b = codes[:n], codes[n:]
    lab = np.arange(len(ids))
    changed = 0
    for r in range(max_iter + 1):
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        new = new[new]
        if r:
            changed = int(np.count_nonzero(new != lab))
        lab = new
        if r and not changed:
            break
    yield pd.DataFrame({"id": ids, "lab": ids[lab], "_changed": changed})


def _spark_rounds(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """connected_components' rounds as Spark joins over the symmetric
    edge list (a, b): (label frame, changed count of the last round
    run). Each round localCheckpoints the label frame."""
    labels = None
    changed = -1
    for _ in range(max_iter + 1):
        if labels is None:
            # round 1 fused: the seed labels are the identity (lab =
            # id) over the distinct edge endpoints, so the first hook
            # is simply min(id, min neighbor) — one groupBy over the
            # edges (the symmetric list holds every node as `a`)
            hooked = edges.groupBy("a").agg(F.min("b").alias("nlab")).select(
                F.col("a").alias("id"),
                F.col("a").alias("old_lab"),
                F.least(F.col("a"), F.col("nlab")).alias("lab"),
            )
        else:
            nmin = (
                edges.join(labels.withColumnRenamed("id", "b"), "b")
                .groupBy("a")
                .agg(F.min("lab").alias("nlab"))
                .withColumnRenamed("a", "id")
            )
            hooked = labels.join(nmin, "id", "left").select(
                "id",
                F.col("lab").alias("old_lab"),
                F.least(F.col("lab"), F.coalesce("nlab", "lab")).alias("lab"),
            )
        # pointer jump: lab(v) ← lab(lab(v)). lab(v) is always a node
        # id present in the label frame (labels start as own ids and
        # move only to other nodes' labels), so the left join hits for
        # every row; labels never increase (lab(w) ≤ w), keeping both
        # steps monotone — changed == 0 still certifies the fixed point
        parents = hooked.select(
            F.col("id").alias("p_id"), F.col("lab").alias("p_lab")
        )
        stepped = hooked.join(
            parents, hooked.lab == parents.p_id, "left"
        ).select("id", "old_lab", F.coalesce("p_lab", "lab").alias("lab"))
        if labels is None:
            # round 1 is not counted: a graph with any edge between two
            # nodes changes a label there, and a graph without one (self
            # loops only, or no edges) costs one cheap confirming round
            labels = stepped.select("id", "lab").localCheckpoint()
            continue
        # old_lab rides along so the convergence check is an observed
        # aggregate of the checkpoint's own job: no extra count job
        obs = Observation()
        labels = (
            stepped.observe(
                obs, F.count_if(F.col("lab") != F.col("old_lab")).alias("changed")
            )
            .select("id", "lab")
            .localCheckpoint()
        )
        changed = obs.get["changed"]
        if changed == 0:
            break
    return labels, changed


_HEX = "0123456789abcdef"


def token_md5s(text: Column) -> Column:
    """array<string>: md5 hex of every whitespace token, hashed ONCE."""
    # NB: transform lambdas must be 1-arg — a 2-arg lambda makes
    # Spark's transform() pass the array index as the second argument.
    return F.transform(tokens(text), lambda t: F.md5(t.cast("binary")))


def simhash_from_hexes(hexes: Column) -> Column:
    """16-bit SimHash from a MATERIALIZED per-token md5-hex array:
    bit i = sign of the sum of (±1) parities of hex digit i.

    `hexes` must be a bound attribute (a real column of the child
    plan), not an expression alias: the 16 bit lanes each read the
    array, these HOF lambdas run interpreted (CodegenFallback), and
    interpreted evaluation has no common-subexpression elimination —
    an inlined md5 expression here would hash every token 16x
    (measured ~2x the whole operator). Callers materialize the array
    behind an explode(array(...)) Generate barrier, which neither
    CollapseProject nor PushDownPredicate rewrites through."""

    def _digit_fn(i: int):
        def f(h: Column) -> Column:
            pos = F.instr(F.lit(_HEX), F.substring(h, i + 1, 1))
            return (pos % 2) * 2 - 1

        return f

    bits = []
    for i in range(16):
        digit = F.transform(hexes, _digit_fn(i))
        s = F.aggregate(digit, F.lit(0), lambda acc, v: acc + v)
        bits.append(F.when(s > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**i))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """Docs sharing an identical 16-bit SimHash (hamming-0 buckets)."""
    hx = spread_small_input(docs).select(
        "doc_id",
        # Generate barrier: materialize the per-token md5 array once
        F.explode(F.array(token_md5s(F.col("text")))).alias("__hx"),
    )
    s = hx.select("doc_id", simhash_from_hexes(F.col("__hx")).alias("simhash"))
    return (
        s.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("rep_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# image near-dup: one key space for every signal
# ---------------------------------------------------------------------------

def _md5_bits(text: Column, half: int) -> Column:
    """bigint: the first (half=0) or last (half=1) 64 bits of md5(text)
    as a signed value; null for a null text."""
    return F.conv(F.substring(F.md5(text), 16 * half + 1, 16), 16, -10).cast("long")


def caption_verify(caption: Column) -> Column:
    """The caption's verify column: the last 64 md5 bits, whose first 64
    are its key (near_dup_keys), so a caption pair agrees on all 128."""
    return _md5_bits(caption, 1)


def near_dup_keys(
    phash: Column,
    n_bands: int,
    max_hamming: int = 0,
    caption: Column | None = None,
    buckets: list[Column] | None = None,
) -> Column:
    """Every near-dup key of an image row, batch and streaming: a bigint
    array whose position names the signal.

    - positions 0 .. n_bands-1: the phash's 64/n_bands-bit bands,
      lowest bits first;
    - position n_bands (with a caption): the caption's first 64 md5
      bits; its last 64 ride along as caption_verify;
    - the positions after that: the embedding's per-band LSH buckets.

    posexplode gives (k1, k2); rows sharing (k1, k2) are candidates of
    signal k1. A null element is no key: a null phash, caption or
    bucket array leaves its positions null.

    The bands find every pair within `max_hamming` only while
    max_hamming <= n_bands - 1 (pigeonhole: such a pair agrees on a
    whole band), so a wider bound raises ValueError here, before any
    job or query starts."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {n_bands - 1} bands for "
            "exact recall (pigeonhole)"
        )
    cap = [] if caption is None else [_md5_bits(caption, 0)]
    return F.array(
        *_bands(phash, n_bands), *cap, *[b.cast("long") for b in buckets or []]
    )


def _bands(h: Column, n_bands: int) -> list[Column]:
    """The 64/n_bands-bit bands of a 64-bit value, lowest bits first."""
    width = 64 // n_bands
    return [
        F.shiftrightunsigned(h, i * width).bitwiseAND(F.lit((1 << width) - 1))
        for i in range(n_bands)
    ]


def key_hash(
    k1: Column, n_bands: int, phash: Column, cv: Column | None = None
) -> Column:
    """The one 64-bit value an exploded key row of signal k1 stores for
    pair_verify: the phash on a band key, the caption_verify column `cv`
    on the caption key, null on an embedding key."""
    h = F.when(k1 < n_bands, phash)
    return h if cv is None else h.when(k1 == n_bands, cv)


def pair_verify(
    k1: Column, h_a: Column, h_b: Column, n_bands: int, max_hamming: int
) -> tuple[Column, Column]:
    """The one near-dup verify of a candidate pair, batch and streaming:
    (keep, hamming) over the pair's shared key position k1 and the two
    stored values (key_hash).

    - A band candidate (k1 < n_bands) is kept when its hamming is within
      max_hamming and k1 is the LOWEST band on which h_a ^ h_b is zero,
      so a pair agreeing on several bands is kept once (the prefix
      filter: a pair is generated only under the first key it shares).
    - A caption candidate is kept when the stored halves agree, so the
      pair agrees on all 128 md5 bits.
    - An embedding candidate stores no value and is always kept (its
      cosine is verified downstream).

    hamming is null except on band keys. XOR and popcount are
    symmetric, so the side a value comes from does not matter."""
    x = h_a.bitwiseXOR(h_b)
    bands = _bands(x, n_bands)
    low = F.when(bands[0] == 0, 0)  # one CASE: the lowest agreeing band
    for i, band in enumerate(bands[1:], 1):
        low = low.when(band == 0, i)
    ham = F.when(k1 < n_bands, F.bit_count(x).cast("int"))
    # past the bands: kept when the stored values agree or none is stored
    keep = F.when(k1 < n_bands, (ham <= max_hamming) & (k1 == low)).otherwise(
        F.coalesce(x == 0, F.lit(True))
    )
    return keep, ham


def phash_band_occupancy(
    imgs: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    n_bands: int = 4,
) -> DataFrame:
    """Per-(band_idx, band_val) bucket occupancy for phash_near_dup,
    largest first — the skew audit for degenerate corpora (monochrome/
    flat/letterboxed images collapse to a handful of phash values, so
    one band value can hold millions of rows). Run it before a large
    dedup to size `chunk_size`; the candidate-pair work in a bucket of
    m rows is ~m^2/2 no matter how it is partitioned."""
    keys = near_dup_keys(F.col(phash_col), n_bands)
    return (
        imgs.filter(F.col(id_col).isNotNull())
        .select(F.posexplode(keys).alias("band_idx", "band_val"))
        .filter(F.col("band_val").isNotNull())
        .groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "band_idx", "band_val")
    )


def _chunked_pair_join(
    e: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    chunk_size: int,
) -> DataFrame:
    """Skew-bounded self-pair enumeration: from `e` with columns
    (id, *payload_cols, *key_cols), emit every same-key pair once as
    (id_a, id_b, {payload}_a, {payload}_b) with id_a < id_b.

    Each key bucket splits into id-range chunks of <= chunk_size rows
    (row_number window — linear per-bucket work) and each row fans out
    to its chunk-pair duties: LEFT side of (c, j>=c), RIGHT side of
    (i<=c, c). The join keys on (*key_cols, ci, cj), bounding every
    task to <= chunk_size^2 candidate pairs no matter how degenerate a
    bucket is, with exact coverage: chunks are monotone in id, so for a
    pair in chunks ca < cb only the (ca, cb) key exists and it has the
    smaller id on the LEFT; for ca == cb both orientations appear and
    the id_a < id_b filter keeps exactly one. Uniform buckets have one
    chunk — duties degenerate to the plain (0, 0) self-join."""
    if chunk_size < 1:
        raise ValueError("chunk_size must be >= 1")
    from pyspark.sql import Window

    # Round 7 plan shape: the bucket size rides the SAME ordered window
    # spec as row_number (explicit unbounded frame), so both functions
    # evaluate in ONE WindowExec pass instead of two stacked Window
    # operators (each buffers the partition once). An eager
    # localCheckpoint of the annotated frame was A/B'd against letting
    # the join's two sides re-evaluate the upstream (interleaved 5x
    # rounds, sf1): within noise everywhere — the upstream re-eval is
    # pipelined scan work while the checkpoint adds a job + disk pass —
    # so the simpler recompute shape stays.
    bucket = Window.partitionBy(*key_cols).orderBy("id")
    rn = F.row_number().over(bucket)
    m = F.count(F.lit(1)).over(
        bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    e = e.select(
        "id", *payload_cols, *key_cols,
        F.floor((rn - 1) / chunk_size).alias("_c"),
        F.floor((m + chunk_size - 1) / chunk_size).alias("_k"),
    )
    a = e.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
        *key_cols,
        F.col("_c").alias("ci"),
        F.explode(F.sequence(F.col("_c"), F.col("_k") - 1)).alias("cj"),
    )
    b = e.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
        *key_cols,
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("_c"))).alias("ci"),
        F.col("_c").alias("cj"),
    )
    return a.join(b, [*key_cols, "ci", "cj"]).filter(F.col("id_a") < F.col("id_b"))


def _near_dup_pairs(
    rows: DataFrame, keys: Column, n_bands: int, max_hamming: int, chunk_size: int
) -> DataFrame:
    """Every verified pair of every signal: (id_a, id_b, k1, hamming),
    id_a < id_b. A phash pair appears once, at its lowest agreeing band;
    a caption pair once, as a caption lives under one key; an embedding
    candidate once per shared bucket. `rows` holds (id, ph) and, with a
    caption key, its caption_verify column cv; `keys` is near_dup_keys
    over them. Rows with a null id have no keys. Each key row carries
    one stored value h (key_hash); the pair join is _chunked_pair_join
    on (k1, k2), and pair_verify filters its candidate rows before any
    pair shuffle (random band collisions vastly outnumber true pairs).
    hamming is null except on band keys."""
    k1 = F.col("k1")
    payload = [c for c in ("ph", "cv") if c in rows.columns]
    cv = F.col("cv") if "cv" in payload else None
    keyed = (
        rows.filter(F.col("id").isNotNull())
        .select("id", *payload, F.posexplode(keys).alias("k1", "k2"))
        .filter(F.col("k2").isNotNull())
        .select("id", key_hash(k1, n_bands, F.col("ph"), cv).alias("h"), "k1", "k2")
    )
    cand = _chunked_pair_join(keyed, ["k1", "k2"], ["h"], chunk_size)
    keep, ham = pair_verify(k1, F.col("h_a"), F.col("h_b"), n_bands, max_hamming)
    return cand.filter(keep).select("id_a", "id_b", "k1", ham.alias("hamming"))


def phash_near_dup(
    imgs: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    n_bands: int = 4,
    chunk_size: int = 2048,
) -> DataFrame:
    """EXACT near-duplicate image pairs by perceptual-hash hamming
    distance: (id_a, id_b, hamming) with id_a < id_b and
    hamming <= max_hamming.

    Banded multi-index (the standard web-scale image-dedup shape): the
    64-bit phash splits into `n_bands` 16-bit bands (near_dup_keys);
    by pigeonhole any pair within hamming <= n_bands-1 agrees on at
    least one whole band, so a self-join on the (k1, k2) band keys
    finds EVERY qualifying pair — this is exact recall, not
    approximate LSH. Scale: the only shuffle is on 16-bit band values
    (uniform for real phashes; ~n^2/2^17 candidate pairs per band),
    never an all-pairs product; the verify (pair_verify: one xor,
    popcount and lowest-agreeing-band CASE) runs only on candidates and
    keeps a pair agreeing on several bands once, at its lowest agreeing
    band, so no distinct follows. Each pair of input rows gives one
    row, so ids are expected unique (an id on two rows pairs twice).

    Hot-bucket hardening (round 4): real corpora are degenerate-heavy —
    one 16-bit band value can hold millions of rows, and a plain
    self-join enumerates that bucket's ~m^2/2 pairs in ONE task. The
    pair join therefore splits every bucket into id-range chunks of
    <= `chunk_size` rows (_chunked_pair_join: exact coverage, every
    task bounded to chunk_size^2 candidate pairs, one chunk and no
    extra fan-out for uniform buckets). The total pair work in a hot
    bucket is inherent (~m^2/2 for exactness); chunking spreads it
    over k(k+1)/2 tasks instead of one straggler. AQE skew-join
    (session.py) remains the backstop for residual imbalance.

    Requires max_hamming <= n_bands - 1 for the pigeonhole guarantee
    (ValueError otherwise, before any job).
    """
    keys = near_dup_keys(F.col("ph"), n_bands, max_hamming)
    rows = imgs.select(F.col(id_col).alias("id"), F.col(phash_col).alias("ph"))
    return _near_dup_pairs(rows, keys, n_bands, max_hamming, chunk_size).select(
        "id_a", "id_b", "hamming"
    )


def phash_dup_clusters(
    imgs: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    max_iter: int = 20,
    chunk_size: int = 2048,
) -> DataFrame:
    """Transitive perceptual-hash image clustering: connected
    components over the EXACT hamming<=max_hamming pair graph,
    (image_id, cluster_id = min image_id in the component), one row per
    image with at least one near-duplicate.

    The image-side closer of the dedup pipeline (mirror of
    duplicate_clusters for documents): near-dup pairs are not an
    equivalence relation — a re-encode chain A~B~C can hold
    hamming(A,C) > threshold — so canonical-image selection needs the
    transitive closure, not the raw pair list. Components are closed
    by min-label propagation with pointer jumping
    (connected_components: O(log diameter) rounds of one definition,
    run in one NumPy task when the rep edge list fits the broadcast
    threshold and as Spark joins with labels localCheckpointed between
    rounds when it does not). Scale: re-encode clusters are
    star-shaped (variants of one source), so round count stays small
    even when clusters are huge; long re-encode CHAINS are what the
    pointer jump is for.

    Exact-value pre-collapse (round 6): a degenerate corpus
    (monochrome / flat / letterboxed images) collapses millions of
    rows onto a handful of phash values — identical phashes are a
    clique whose pair list is inherently m^2/2, and the clique's
    canonical is simply its minimum id, so enumerating those pairs is
    pure waste. The clustering path therefore collapses to ONE
    representative per distinct phash first (a uniform map-side-
    partial groupBy on the 64-bit value — no hot window partition),
    runs the banded multi-index join over representatives only
    (phash_near_dup's enumeration, hot-bucket chunking still applying
    to collisions among DISTINCT values), closes components over the
    rep graph, and expands members at label time: rep_id is the
    minimum id of its value group, so min-reachable-rep_id IS the
    component's minimum image id. Intermediates are O(m + distinct
    pairs), never O(m^2). The PAIR-level view (phash_near_dup itself)
    keeps m^2 semantics by definition — that is the operator contract,
    not a plan artifact. The rep pair list holds each pair once (at
    its lowest agreeing band), so connected_components gets one edge
    per pair.

    Size gate: the label frame has at most one row per distinct phash,
    so it is broadcast into the member re-attach only when that many
    rows fit the session's spark.sql.autoBroadcastJoinThreshold
    (_fits_broadcast); otherwise, and always at a negative threshold,
    the join carries no hint.
    """
    n_bands = 4  # phash_near_dup's default
    keys = near_dup_keys(F.col("ph"), n_bands, max_hamming)
    m = imgs.filter(
        F.col(phash_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(F.col(id_col).alias("id"), F.col(phash_col).alias("ph"))
    # eager checkpoint: groups feeds the banded join (both chunked
    # sides) AND the member re-attach — three consumers would re-run
    # the corpus groupBy each; the frame is distinct-phash-sized
    # (24 B/row), so one local write beats three aggregations. Its
    # row count, read in the same job, sizes the label broadcast
    groups, (n_groups,) = _sized_checkpoint(
        m.groupBy("ph").agg(
            F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("n_members")
        )
    )
    reps = groups.select(F.col("rep_id").alias("id"), "ph")
    rep_pairs = _near_dup_pairs(reps, keys, n_bands, max_hamming, chunk_size)
    labels = connected_components(
        rep_pairs.select("id_a", "id_b"), max_iter
    ).withColumnRenamed("id", "rep_id")
    # labels is rep-graph-sized (orders of magnitude under the corpus):
    # when it fits, broadcast it so the member re-attach never shuffles
    # `m` by rep_id (plan: SortMergeJoin + 2 Exchanges →
    # BroadcastHashJoin; guide §3.1)
    if _fits_broadcast(labels, n_groups):
        labels = F.broadcast(labels)
    joined = m.join(groups, "ph").join(labels, "rep_id", "left")
    return joined.filter(
        (F.col("n_members") >= 2) | F.col("lab").isNotNull()
    ).select(
        F.col("id").alias(id_col),
        F.coalesce("lab", "rep_id").alias("cluster_id"),
    )


# hyperplane-LSH banding for the embedding signal: deterministic
# integer-valued planes so the DuckDB oracle can ship them as literal
# arrays (sign-of-dot consumption is summation-order-safe per the
# q_embedding_near_dup precedent — |dot| margins are O(1) while
# cross-engine summation-order noise is ~1e-13 relative)
EMB_N_BANDS = 8
EMB_N_PLANES = 16  # 65536-way buckets — occupancy << 1 at fixture scale

def emb_plane_value(band: int, plane: int, dim: int) -> float:
    """Deterministic hyperplane coefficient for (band, plane, dim
    index) — the reference for the kernel's banding port
    (EmbBuckets.planeValue) and the source of the SQL literal arrays
    in the oracle (values ship as repr() literals, so ANY
    deterministic choice stays value-exact cross-engine).

    Round 6: splitmix64-mixed instead of the former affine
    ((band*53 + plane*37 + dim*101) % 19) pattern — the affine planes
    were heavily sign-correlated across (band, plane), collapsing the
    16-bit buckets onto a few patterns: the 26k-row fixture generated
    2.4M candidate pairs (~183 per row; measured) where uniform
    buckets give ~40k. Decorrelated planes cut the embed-signal
    candidate volume ~60x; recall for exact-duplicate vectors is
    unaffected (identical vectors collide in every band regardless of
    plane choice)."""
    z = (
        band * 0x9E3779B97F4A7C15
        + plane * 0xBF58476D1CE4E5B9
        + dim * 0x94D049BB133111EB
        + 0x1234_5678_9ABC_DEF1
    ) & 0xFFFF_FFFF_FFFF_FFFF
    z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFF_FFFF_FFFF_FFFF
    z = (z ^ (z >> 27)) * 0x94D049BB133111EB & 0xFFFF_FFFF_FFFF_FFFF
    z ^= z >> 31
    return float((z >> 40) % 19 - 9)


def _emb_buckets_udf(
    spark: SparkSession, col: Column, n_bands: int, n_planes: int
) -> Column:
    """array<int> of per-band sign-LSH bucket ids, one compiled call per
    row (equi7_emb_buckets, jvm/src/equi7/EmbBuckets.java): its planes
    are a Java port of emb_plane_value, and each sign bit comes from a
    left-to-right dot product, the oracle's CASE WHEN
    list_dot_product(v, plane) > 0. An all-zero or empty vector (every
    dot 0) and one with a NaN or null element (every dot NaN; the
    oracle's dot is NULL) get bucket 0 in every band; only a null
    array gets null. `spark` is the session that owns the frame the
    column is used on: the kernel is registered per session. No
    fallback: raises when that session cannot load the kernel jar."""
    from equi7grid_spark.operators.kernel import emb_buckets_col, require_kernel

    require_kernel(spark, "embedding LSH banding")
    return emb_buckets_col(col, n_bands, n_planes)


def cosine_seq(spark: SparkSession, va: Column, vb: Column) -> Column:
    """Cosine similarity of two array<double> columns, one compiled call
    per row (equi7_cosine_seq, jvm/src/equi7/CosineSeq.java). The
    accumulators advance LEFT-TO-RIGHT over the dimension axis (acc =
    acc + a_d*b_d, one IEEE add per dim), so every partial sum, and the
    division result down to the last ulp, matches the HOF chain
    try_divide(dot(a,b), sqrt(dot(a,a)) * sqrt(dot(b,b))) over
    aggregate(zip_with(...)) and DuckDB's list_dot_product. NULL on a
    null array or element, arrays of different lengths, or a zero
    denominator (try_divide semantics); NaN propagates as NaN. `spark`
    is the session that owns the frame the column is used on: the
    kernel is registered per session. No fallback: raises when that
    session cannot load the kernel jar."""
    from equi7grid_spark.operators.kernel import cosine_seq_col, require_kernel

    require_kernel(spark, "cosine_seq")
    return cosine_seq_col(va, vb)


def multimodal_near_dup(
    imgs: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    caption_col: str = "caption",
    max_hamming: int = 3,
    n_bands: int = 4,
    chunk_size: int = 2048,
    embedding_col: str | None = None,
    cos_threshold: float = 0.98,
    emb_n_bands: int = EMB_N_BANDS,
    emb_n_planes: int = EMB_N_PLANES,
) -> DataFrame:
    """Cross-signal near-duplicate pairs for image+caption(+embedding)
    corpora (the CLIP-style training-table dedup): a pair qualifies
    when the perceptual hashes are within `max_hamming` (visual
    near-dup), the captions are byte-identical (textual dup), or —
    when `embedding_col` is given — the embedding cosine reaches
    `cos_threshold` (semantic near-dup).

    Two-signal form (embedding_col=None, unchanged from round 4):
    returns (id_a, id_b, signal, hamming) with signal in {'phash',
    'caption', 'both'} and hamming NULL for caption-only pairs.

    Three-signal form: returns (id_a, id_b, signal, hamming, cosine)
    where signal is the '+'-joined list of contributing signals in
    fixed order ('phash', 'caption', 'embed' — e.g.
    'phash+caption+embed'), hamming is NULL unless the phash signal
    fired, cosine NULL unless the embedding signal fired.

    Scale shape (one-pass signal keying, round 6): ONE scan of the
    corpus emits every signal key into the one bigint key space of
    near_dup_keys — phash bands, the caption's first 64 md5 bits,
    embedding LSH buckets, each at its own array position k1 — so the
    skew-chunked pair enumeration runs ONCE (one chunk-assigning
    window over the union of keys instead of one per signal, one
    candidate join instead of three). The enumeration
    (_near_dup_pairs) verifies every candidate row with pair_verify: a
    phash pair is kept once, at its lowest agreeing band, within
    max_hamming, a caption pair when its last 64 md5 bits agree too,
    and an embedding candidate once per shared bucket. One pair-keyed
    aggregation then flags each pair's signals by k1 and takes the
    hamming of its one phash row.
    Embedding candidates get the exact cosine verify on a
    TRUE-CANDIDATE-sized vector join only. Intermediates stay
    pair-sized — never an all-pairs product — and the r5 plan's three
    fixture scans + two extra windows + two full-outer merge shuffles
    collapse into one scan, one window, one pair aggregation and one
    small verify join.

    Requires max_hamming <= n_bands - 1 (ValueError otherwise, before
    any job).

    The three-signal form reads its input once: the key scan and both
    sides of the verify join consume one localCheckpoint of the input
    projected to (id, phash, caption, embedding), so an upstream Python
    stage such as a phash decode runs once per row, not three times.
    That checkpoint is eager: calling the function runs a Spark job
    that materializes the whole projected input, embedding arrays
    included, in executor block storage for the session's lifetime.
    It is not fault tolerant: losing an executor that holds its blocks
    fails the queries built on the result. Its embedding buckets and
    cosines are compiled kernel calls (_emb_buckets_udf, cosine_seq),
    so the pass adds no Python worker of its own, and it raises when
    the session cannot load the kernel jar.

    Size gate (three-signal form): the pair flags are checkpointed with
    their row count and their embedding-candidate count, and the input
    checkpoint measures the widest vector (_sized_checkpoint, no extra
    job). When the candidates with one vector each fit the session's
    spark.sql.autoBroadcastJoinThreshold (_fits_broadcast), the verify
    broadcasts the candidates into the first vector join and that
    join's output into the second, so both vector sides stream through
    broadcast hash joins instead of sort-merge shuffle stages that AQE
    then demotes; the final merge broadcasts the cosine pairs when that
    many candidates fit. Otherwise, and always at a negative threshold,
    these joins carry no hint."""
    # the key is built, and the pigeonhole bound checked, before any job
    n_buckets = 0 if embedding_col is None else emb_n_bands
    keys = near_dup_keys(
        F.col("ph"), n_bands, max_hamming, F.col("cap"),
        [F.col("buckets")[b] for b in range(n_buckets)],
    )
    src = imgs.filter(F.col(id_col).isNotNull())
    buckets = []
    if embedding_col is not None:
        # a session without the kernel jar fails here, before any job
        buckets = [
            _emb_buckets_udf(
                imgs.sparkSession,
                F.col(embedding_col).cast("array<double>"),
                emb_n_bands,
                emb_n_planes,
            ).alias("buckets")
        ]
        # the key scan and both sides of the vector verify join read
        # src: project it to their columns and checkpoint it once, or
        # the caller's plan (a phash decode, say) runs three times; the
        # same job measures the widest vector for the verify's size gate
        src, (_, dim) = _sized_checkpoint(
            src.select(id_col, phash_col, caption_col, embedding_col),
            F.max(F.size(embedding_col)),
        )
    # the bucket array is a column of this projection, so the key
    # explode reads it instead of calling the kernel once per band
    rows = src.select(
        F.col(id_col).alias("id"),
        F.col(phash_col).alias("ph"),
        F.col(caption_col).alias("cap"),
        caption_verify(F.col(caption_col)).alias("cv"),
        *buckets,
    )
    pairs = _near_dup_pairs(rows, keys, n_bands, max_hamming, chunk_size)
    # ONE pair-keyed aggregation replaces the per-signal distincts and
    # the full-outer merges — a pair has at most one phash row, and
    # hamming is null on every other row
    k1 = F.col("k1")
    flags = pairs.groupBy("id_a", "id_b").agg(
        F.max("hamming").alias("hamming"),
        F.max(k1 == n_bands).alias("_cap"),
        F.max(k1 > n_bands).alias("_embcand"),
    )
    if embedding_col is None:
        signal = (
            F.when(F.col("hamming").isNotNull() & F.col("_cap"), "both")
            .when(F.col("hamming").isNotNull(), "phash")
            .otherwise("caption")
        )
        return flags.select("id_a", "id_b", signal.alias("signal"), "hamming")
    # flags feeds both the embedding verify and the final merge: eager
    # pair-sized checkpoint, or the whole enumeration plans twice; the
    # same job counts the embedding candidates among them
    flags, (_, n_emb) = _sized_checkpoint(flags, F.count_if(F.col("_embcand")))
    vecs = src.select(
        F.col(id_col).alias("id"),
        F.col(embedding_col).cast("array<double>").alias("v"),
    ).filter(F.col("v").isNotNull())
    ea = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    eb = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    cands = flags.filter(F.col("_embcand")).select("id_a", "id_b")
    # size gate: when the candidates with one widest vector each fit,
    # the candidates, and then the candidates with their first vector,
    # are broadcast, so both vector sides stream through broadcast hash
    # joins with no shuffle
    if _fits_broadcast(cands, n_emb, 8 * max(dim or 0, 0)):
        j = eb.join(F.broadcast(ea.join(F.broadcast(cands), "id_a")), "id_b")
    else:
        j = cands.join(ea, "id_a").join(eb, "id_b")
    # compiled sequential-order cosine (bit-identical to the HOF
    # chain — cosine_seq); the Generate barrier keeps the >= threshold
    # filter from duplicating the evaluation (guide §4.4 —
    # PushDownPredicate would substitute the aliased expression into
    # the filter; measured 6.1s -> sub-second on the fixture back when
    # this was the interpreted HOF)
    cos = cosine_seq(imgs.sparkSession, F.col("va"), F.col("vb"))
    emb = (
        j.withColumn("_cos", F.explode(F.array(cos)))
        .filter(F.col("_cos") >= cos_threshold)
        .select("id_a", "id_b", F.round("_cos", 9).alias("cosine"))
    )
    # emb is true-cosine-pair-sized (at most the n_emb candidates):
    # when those fit, broadcast it so the final provenance merge is a
    # BroadcastHashJoin instead of a SortMergeJoin that exchanges+sorts
    # the full candidate-pair frame twice (guide §3.1)
    if _fits_broadcast(emb, n_emb):
        emb = F.broadcast(emb)
    merged = flags.join(emb, ["id_a", "id_b"], "left").filter(
        F.col("hamming").isNotNull() | F.col("_cap") | F.col("cosine").isNotNull()
    )
    signal = F.concat_ws(
        "+",
        F.when(F.col("hamming").isNotNull(), "phash"),
        F.when(F.col("_cap"), "caption"),
        F.when(F.col("cosine").isNotNull(), "embed"),
    )
    return merged.select(
        "id_a", "id_b", signal.alias("signal"), "hamming", "cosine"
    )
