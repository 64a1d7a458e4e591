"""phash_near_dup: exact-recall banded hamming dedup semantics."""

import pytest
from pyspark.sql import functions as F

from equi7grid_spark.dedup import phash_near_dup


def test_phash_near_dup_exact_recall(spark):
    base = 0x1234_5678_9ABC_DEF0
    rows = [
        ("a", base),
        ("b", base ^ 0b1),                       # hamming 1 vs a
        # hamming 3 vs a, one flipped bit in each of 3 different bands —
        # the adversarial case for banding (only ONE band left equal)
        ("c", base ^ (1 << 0) ^ (1 << 17) ^ (1 << 34)),
        # hamming 4 vs a, one bit per band: no band equal -> not even a
        # candidate, and correctly outside the threshold anyway
        ("d", base ^ (1 << 0) ^ (1 << 17) ^ (1 << 34) ^ (1 << 51)),
        ("e", 0x0F0F_0F0F_0F0F_0F0F),            # far from everything
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dup(df, max_hamming=3).collect()
    }
    assert got[("a", "b")] == 1
    assert got[("a", "c")] == 3
    # b^c = (1<<17)^(1<<34): the bit-0 flips cancel -> hamming 2
    assert got[("b", "c")] == 2
    assert ("a", "d") not in got  # hamming 4 excluded
    assert all("e" not in pair for pair in got)


def test_phash_near_dup_threshold_guard(spark):
    df = spark.createDataFrame([("a", 1)], "image_id string, phash long")
    with pytest.raises(ValueError):
        phash_near_dup(df, max_hamming=4, n_bands=4)


def test_phash64_scalar_vs_batched_parity(spark):
    import numpy as np

    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.multimodal import compute_phash, phash64
    from equi7grid_spark.warp.codecs import decode

    imgs = synthetic_images(spark, 64, with_bytes=True)
    rows = imgs.select("image_id", "bytes", "fmt", "w", "h").collect()
    got = {
        r.image_id: r.phash for r in compute_phash(imgs).collect()
    }
    for r in rows:
        arr = decode(bytes(r.bytes), r.fmt, r.w, r.h)
        assert got[r.image_id] == phash64(arr), r.image_id


def test_phash_q8_invariance_vs_cross_separation(spark):
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.multimodal import compute_phash, transcode_images

    imgs = synthetic_images(spark, 40, with_bytes=True)
    orig = {r.image_id: r.phash for r in compute_phash(imgs).collect()}
    requant = {
        r.image_id: r.phash
        for r in compute_phash(transcode_images(imgs, "q8")).collect()
    }
    for iid, p in orig.items():
        # mask to 64 bits: Python xor of signed longs is infinite
        # two's-complement, bin() of a negative shows magnitude bits
        assert bin((p ^ requant[iid]) & ((1 << 64) - 1)).count("1") <= 3, iid


def test_image_phash_pipeline_end_to_end(spark):
    from equi7grid_spark.queries import q_image_phash_pipeline

    row = q_image_phash_pipeline(spark, "unused").collect()[0]
    assert row.n_planted_refound >= 295          # 300 planted q8 pairs
    assert row.n_pairs - row.n_planted_refound < 50  # content near-dups only
    assert row.max_hamming <= 3


def test_phash_near_dup_matches_bruteforce(spark):
    """Exact-recall property: the banded join must equal the O(n^2)
    brute force on a seeded population of random hashes plus planted
    <=3-bit perturbations."""
    import numpy as np

    rng = np.random.default_rng(7)
    hashes = rng.integers(0, 1 << 63, size=150, dtype=np.int64).tolist()
    rows = [(f"r{i:03d}", int(h)) for i, h in enumerate(hashes)]
    # planted perturbations of 1..3 bits (positions random, incl. >=48)
    for i in range(0, 150, 5):
        nbits = 1 + (i // 5) % 3
        mask = 0
        while bin(mask).count("1") < nbits:
            mask |= 1 << int(rng.integers(0, 63))
        rows.append((f"r{i:03d}v", int(np.int64(hashes[i] ^ mask))))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup(df, max_hamming=3).collect()
    }
    brute = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, pa), (ib, pb) = rows[i], rows[j]
            d = bin((pa ^ pb) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                a, b = sorted((ia, ib))
                brute.add((a, b, d))
    assert got == brute
    assert len(brute) >= 30  # the planted pairs are actually there


def test_phash_near_dup_chunked_equals_bruteforce(spark):
    """Hot-bucket chunking must not change the pair set: rerun the
    brute-force property with chunk_size=8 so every planted bucket is
    split across multiple id-range chunks (cross-chunk, same-chunk and
    chunk-boundary pairs all exercised)."""
    import numpy as np

    rng = np.random.default_rng(13)
    hashes = rng.integers(0, 1 << 63, size=120, dtype=np.int64).tolist()
    rows = [(f"r{i:03d}", int(h)) for i, h in enumerate(hashes)]
    for i in range(0, 120, 4):
        nbits = 1 + (i // 4) % 3
        mask = 0
        while bin(mask).count("1") < nbits:
            mask |= 1 << int(rng.integers(0, 63))
        rows.append((f"r{i:03d}v", int(np.int64(hashes[i] ^ mask))))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup(df, max_hamming=3, chunk_size=8).collect()
    }
    brute = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, pa), (ib, pb) = rows[i], rows[j]
            d = bin((pa ^ pb) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                a, b = sorted((ia, ib))
                brute.add((a, b, d))
    assert got == brute
    assert len(brute) >= 25


def test_phash_near_dup_8_bands_wider_threshold(spark):
    """n_bands=8 (8-bit bands) extends the pigeonhole guarantee to
    hamming<=7 — brute-force equality on a seeded population with
    planted 4..7-bit perturbations (outside the 4-band regime). Hashes
    span the FULL signed-long range (bit 63 included) so the top band's
    extraction is exercised with the sign bit set — exactly where a
    shiftright-vs-shiftrightunsigned mistake would corrupt band values."""
    import numpy as np

    rng = np.random.default_rng(17)
    hashes = rng.integers(-(1 << 63), 1 << 63, size=80, dtype=np.int64).tolist()
    rows = [(f"b{i:03d}", int(h)) for i, h in enumerate(hashes)]
    for i in range(0, 80, 4):
        nbits = 4 + (i // 4) % 4
        mask = 0
        while bin(mask).count("1") < nbits:
            mask |= 1 << int(rng.integers(0, 64))
        v = (hashes[i] ^ mask) & ((1 << 64) - 1)  # signed-64 wrap
        rows.append((f"b{i:03d}v", v - (1 << 64) if v >= (1 << 63) else v))
    assert any(h < 0 for _, h in rows)
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup(df, max_hamming=7, n_bands=8).collect()
    }
    brute = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, pa), (ib, pb) = rows[i], rows[j]
            d = bin((pa ^ pb) & ((1 << 64) - 1)).count("1")
            if d <= 7:
                a, b = sorted((ia, ib))
                brute.add((a, b, d))
    assert got == brute
    assert len(brute) >= 20


def test_phash_near_dup_degenerate_corpus(spark):
    """The verdict's 100x-scale risk case: a corpus collapsing onto a
    handful of phash values (flat/monochrome images). 600 rows over 3
    pairwise-far values with chunk_size=64 → every bucket spans 4
    chunks; the output must be exactly the 3 * C(200,2) within-value
    pairs at hamming 0, each emitted once."""
    vals = [0x0, 0xFFFF_FFFF_FFFF_FFF, 0x5555_5555_5555_5555]
    assert all(
        bin((a ^ b) & ((1 << 64) - 1)).count("1") > 3
        for i, a in enumerate(vals)
        for b in vals[i + 1:]
    )
    rows = [
        (f"img{i:04d}", vals[i % 3]) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    out = phash_near_dup(df, max_hamming=3, chunk_size=64)
    agg = out.groupBy("hamming").count().collect()
    assert {(r.hamming, r["count"]) for r in agg} == {(0, 3 * 200 * 199 // 2)}


def test_phash_band_occupancy_audit(spark):
    from equi7grid_spark.dedup import phash_band_occupancy

    rows = [(f"i{i}", 0) for i in range(10)] + [("x", 1 << 20)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    occ = phash_band_occupancy(df).collect()
    # hottest first: bands 0/2/3 value 0 hold all 11 rows ("x" only
    # differs in band 1: (1<<20)>>16 = 16)
    assert occ[0].n_rows == 11
    assert (occ[-1].band_idx, occ[-1].band_val, occ[-1].n_rows) == (1, 16, 1)


def test_multimodal_near_dup_signals(spark):
    """Hand-built corpus covering all three signals: phash-only,
    caption-only, both — plus an unrelated row emitting nothing."""
    from equi7grid_spark.dedup import multimodal_near_dup

    base = 0x1234_5678_9ABC_DEF0
    rows = [
        ("a", base, "cat on a mat"),
        ("b", base ^ 0b1, "a different caption"),   # phash-only vs a
        ("c", base ^ (0xFF << 8), "cat on a mat"),  # caption-only vs a
        ("d", base ^ 0b10, "cat on a mat"),         # both vs a
        ("e", 0x0F0F_0F0F_0F0F_0F0F, "unique"),     # nothing
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long, caption string")
    got = {
        (r.id_a, r.id_b): (r.signal, r.hamming)
        for r in multimodal_near_dup(df).collect()
    }
    assert got[("a", "b")] == ("phash", 1)
    assert got[("a", "c")] == ("caption", None)
    assert got[("a", "d")] == ("both", 1)
    assert got[("b", "d")] == ("phash", 2)   # hamming(b,d)=2, captions differ
    assert got[("c", "d")][0] == "caption"   # hamming(c,d)=9 > 3
    assert all("e" not in k for k in got)


def test_caption_dup_pairs_chunked_closed_form(spark):
    """The caption signal of multimodal_near_dup: 90 rows sharing 3
    captions (null phash) with chunk_size=8 (multi-chunk buckets):
    exactly 3 * C(30,2) pairs, each emitted once."""
    from equi7grid_spark.dedup import multimodal_near_dup

    rows = [(f"r{i:03d}", None, f"caption {i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "image_id string, phash long, caption string")
    out = multimodal_near_dup(df, chunk_size=8).collect()
    got = [(r.id_a, r.id_b) for r in out]
    assert len(got) == len(set(got)) == 3 * 30 * 29 // 2
    assert all(a < b for a, b in got)
    assert {(r.signal, r.hamming) for r in out} == {("caption", None)}


def test_phash_near_dup_null_rows_dropped(spark):
    rows = [("a", 5), ("b", 5), (None, 5), ("c", None)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = phash_near_dup(df).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [("a", "b", 0)]

def _three_signal_df(spark):
    """Hand-built corpus covering every single signal and the full
    combination of multimodal_near_dup's three-signal form."""
    base = 0x1234_5678_9ABC_DEF0
    v1 = [float(d + 1) for d in range(8)]          # shared by a, e2, f
    v2 = [float((d * 7) % 5 - 2) for d in range(8)]
    v3 = [1.0] + [0.0] * 7
    rows = [
        ("a", base, "cat on a mat", v1),
        ("b", base ^ 0b1, "a different caption", v2),     # phash-only
        ("c", base ^ (0xFF << 8), "cat on a mat", v3),    # caption-only
        ("e2", base ^ (0xF0F0 | (0xF0F0 << 16)), "another one", v1),  # embed-only
        ("f", base ^ 0b10, "cat on a mat", v1),           # all three
    ]
    return spark.createDataFrame(
        rows, "image_id string, phash long, caption string, embedding array<double>"
    )


def test_multimodal_three_signal(spark):
    """Every single signal and the full combination in the 3-signal
    form (embedding_col given): provenance strings are '+'-joined in
    fixed phash/caption/embed order; hamming NULL unless phash fired,
    cosine NULL unless embed fired."""
    from equi7grid_spark.dedup import multimodal_near_dup

    df = _three_signal_df(spark)
    got = {
        (r.id_a, r.id_b): (r.signal, r.hamming, r.cosine)
        for r in multimodal_near_dup(df, embedding_col="embedding").collect()
    }
    assert got[("a", "b")][:2] == ("phash", 1) and got[("a", "b")][2] is None
    assert got[("a", "c")] == ("caption", None, None)
    assert got[("a", "e2")][0] == "embed" and got[("a", "e2")][2] == 1.0
    assert got[("a", "f")] == ("phash+caption+embed", 1, 1.0)
    assert got[("e2", "f")][0] == "embed"   # identical vectors, ham 10, caps differ
    # 2-signal form unchanged (back-compat)
    got2 = {
        (r.id_a, r.id_b): r.signal for r in multimodal_near_dup(df).collect()
    }
    assert got2[("a", "f")] == "both"


def test_multimodal_three_signal_size_gate(spark):
    """The verify and merge joins' broadcast hints change plans, never
    answers: pairs, signals, hamming and cosines are identical at the
    session's default spark.sql.autoBroadcastJoinThreshold (the
    candidates fit) and at -1, where no plan holds a BroadcastExchange."""
    from equi7grid_spark.dedup import multimodal_near_dup

    def run():
        df = _three_signal_df(spark)
        before = _sql_executions(spark)
        got = sorted(
            map(tuple, multimodal_near_dup(df, embedding_col="embedding").collect())
        )
        plans = [p for i, p in _sql_executions(spark).items() if i not in before]
        return got, sum("BroadcastExchange" in p for p in plans)

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    on, n_bcast_on = run()
    spark.conf.set(key, "-1")
    try:
        off, n_bcast_off = run()
    finally:
        spark.conf.set(key, prev)
    assert on == off
    assert ("a", "f", "phash+caption+embed", 1, 1.0) in on
    assert n_bcast_on > 0 and n_bcast_off == 0


def test_multimodal_three_signal_degenerate_embedding_keeps_other_signals(spark):
    """A zero, NaN, null-element or null embedding does not cost its
    row the phash and caption pairs: the embedding keys are added to,
    never replace, the row's other signal keys."""
    from equi7grid_spark.dedup import multimodal_near_dup

    nan = float("nan")
    ph = 0x0123_4567_89AB_CDEF
    v = [1.0, -2.0, 3.0, 0.5]
    rows = [
        ("z0", ph, "cap zero", [0.0, 0.0, 0.0, 0.0]),
        ("z1", ph ^ 1, "unrelated a", v),
        ("n0", ph ^ (0xFFFF << 32), "cap nan", [1.0, nan, 0.0, 2.0]),
        ("n1", ph ^ (0x0F0F << 16), "cap nan", [-1.0, 2.0, 0.5, 3.0]),
        ("e0", ph ^ (0xFF << 48), "cap null elem", [1.0, None, 3.0, 0.5]),
        ("e1", ph ^ (0xFF << 48) ^ 2, "unrelated b", [-3.0, 1.0, -1.0, 2.0]),
        ("m0", ph ^ (0xF0F0 << 8), "cap null", None),
        ("m1", ph ^ (0xF0F0 << 8), "cap null", [2.0, 1.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, phash long, caption string, embedding array<double>"
    )
    got = {
        (r.id_a, r.id_b): r.signal
        for r in multimodal_near_dup(df, embedding_col="embedding").collect()
    }
    assert got[("z0", "z1")] == "phash"
    assert got[("n0", "n1")] == "caption"
    assert got[("e0", "e1")] == "phash"
    assert got[("m0", "m1")] == "phash+caption"


def _sql_executions(spark) -> dict[int, str]:
    """Execution id -> physical plan text of every SQL execution so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e.physicalPlanDescription()
    return out


def test_multimodal_three_signal_reads_input_once(spark):
    """The three-signal form evaluates its input once per row (an
    upstream Python stage such as a phash decode must not re-run for
    the key scan and both verify-join sides), and none of its executed
    plans holds a Python UDF evaluation."""
    from equi7grid_spark.dedup import multimodal_near_dup

    base = 0x0F0F_3C3C_5A5A_9669
    rows = []
    for i in range(48):
        v = [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]
        rows.append((f"i{i:02d}", base ^ (i << 20), f"caption {i % 40}", v))
        if i % 6 == 0:
            rows.append((f"i{i:02d}_e", base ^ (0xFFFF << 40), f"other {i}", v))
    df = spark.createDataFrame(
        rows, "image_id string, phash long, caption string, embedding array<double>"
    )
    seen = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    src = df.mapInPandas(counted, schema=df.schema)
    before = _sql_executions(spark)
    got = multimodal_near_dup(src, embedding_col="embedding").collect()
    assert seen.value == len(rows)
    embed = {(r.id_a, r.id_b) for r in got if "embed" in r.signal}
    assert {(f"i{i:02d}", f"i{i:02d}_e") for i in range(0, 48, 6)} <= embed
    plans = [p for i, p in _sql_executions(spark).items() if i not in before]
    assert plans
    for plan in plans:
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_embedding_near_dup_pairs_identical_and_chunked(spark):
    """The embedding signal of multimodal_near_dup (null phash and
    caption): identical vectors are found with recall 1.0 (they share
    every band bucket) even under multi-chunk hot buckets;
    sub-threshold candidates are verified away."""
    from equi7grid_spark.dedup import multimodal_near_dup

    shared = [float(d % 3 + 1) for d in range(8)]
    rows = [(f"r{i:03d}", None, None, shared) for i in range(40)] + [
        ("x1", None, None, [1.0, -1.0] * 4),
        ("x2", None, None, [-1.0, 1.0] * 4),   # cosine(x1,x2) = -1: never a pair
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, phash long, caption string, embedding array<double>",
    )
    out = multimodal_near_dup(df, chunk_size=8, embedding_col="embedding").collect()
    assert {r.signal for r in out} == {"embed"}
    got = [(r.id_a, r.id_b, r.cosine) for r in out]
    pairs = {(a, b) for a, b, _ in got}
    assert len(got) == len(pairs) == 40 * 39 // 2
    assert all(c == 1.0 for _, _, c in got)
    assert all("x1" not in p and "x2" not in p for pair in pairs for p in pair)


def test_phash_dup_clusters_transitive_chain(spark):
    from equi7grid_spark.dedup import phash_dup_clusters

    base = 0x1234_5678_9ABC_DEF0
    rows = [
        # chain a~b~c~d: consecutive hamming 2, but a^c and b^d are
        # hamming 4 and a^d hamming 6 — the closure is what links them
        ("a", base),
        ("b", base ^ (1 << 1) ^ (1 << 2)),
        ("c", base ^ (1 << 1) ^ (1 << 2) ^ (1 << 20) ^ (1 << 21)),
        ("d", base ^ (1 << 1) ^ (1 << 2) ^ (1 << 20) ^ (1 << 21)
              ^ (1 << 40) ^ (1 << 41)),
        # separate pair cluster
        ("x", 0x0F0F_0F0F_0F0F_0F0F),
        ("y", 0x0F0F_0F0F_0F0F_0F0E),
        # singleton: no near-dup -> absent from the output
        ("z", 0x7A7A_0000_FFFF_1111),
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        r.image_id: r.cluster_id
        for r in phash_dup_clusters(df, max_hamming=3).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def _phash_path_graph(n: int) -> list[tuple[str, int]]:
    """n-node PATH graph under hamming<=3: flip two fresh bits per
    step, so consecutive nodes differ by 2 (edge) and any skip pair by
    >=4 (no edge) — a genuine diameter-(n-1) chain, unlike small
    cumulative-xor fixtures whose skip pairs stay within threshold."""
    # flips use bits 0..61, base bit 62 keeps every value a valid
    # signed int64 — 31 flip steps max, so n <= 32
    assert n <= 32
    base = 1 << 62
    rows, h = [], base
    for i in range(n):
        rows.append((f"n{i:02d}", h))
        h ^= (1 << (2 * i)) | (1 << (2 * i + 1))
    return rows


def test_phash_dup_clusters_nonconvergence_raises(spark):
    from equi7grid_spark.dedup import phash_dup_clusters

    # an 8-link path cannot converge in max_iter=1 round even with the
    # pointer jump (2 rounds incl. the confirming one cover ~5 hops)
    df = spark.createDataFrame(
        _phash_path_graph(9), "image_id string, phash long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        phash_dup_clusters(df, max_hamming=3, max_iter=1)


def test_connected_components_pointer_jump_log_rounds(spark):
    from equi7grid_spark.dedup import phash_dup_clusters

    # 32-node path: diameter 31, so hook-only propagation would need 31
    # rounds; hooking + pointer jumping closes it within 6 — this pins
    # the O(log diameter) convergence that makes long re-encode chains
    # tractable at scale
    df = spark.createDataFrame(
        _phash_path_graph(32), "image_id string, phash long"
    )
    got = {
        r.image_id: r.cluster_id
        for r in phash_dup_clusters(df, max_hamming=3, max_iter=6).collect()
    }
    assert got == {f"n{i:02d}": "n00" for i in range(32)}


def test_phash_dup_clusters_degenerate_collapse(spark):
    """VERDICT r5 #2: a corpus collapsing onto <=10 phash values must
    cluster with O(m) intermediates — the exact-value pre-collapse runs
    the banded join and the chunk-assigning window over one
    REPRESENTATIVE per distinct value (here 6 rows), never the 120k
    members. 120k rows over 6 values: v0~v1 within hamming 1, v2~v3
    within hamming 2 (transitive bridge via hamming<=3 between v1,v2?
    no — groups are planted so {v0,v1} and {v2,v3} are two components
    and {v4} / {v5} are pure exact-dup cliques). Labels = min image_id
    reachable. With the old member-level pair enumeration this input
    is ~1.2e9 candidate pairs and does not finish; the collapsed path
    completes in seconds."""
    from equi7grid_spark.dedup import phash_dup_clusters

    v0 = 0x0123_4567_89AB_CDEF
    vals = [
        v0,                 # group 0 -> component A (min ids)
        v0 ^ 0b1,           # hamming 1 vs v0 -> component A
        0x7654_3210_0F0F_0F0F,        # group 2 -> component B
        0x7654_3210_0F0F_0F0F ^ 0b11, # hamming 2 vs v2 -> component B
        0x00FF_00FF_00FF_00FF,        # far from everything: exact clique
        0x5555_0000_AAAA_FFFF,        # far from everything: exact clique
    ]
    # sanity: cross-component distances all exceed the threshold
    far = [(0, 2), (0, 3), (0, 4), (0, 5), (1, 2), (2, 4), (2, 5), (4, 5)]
    assert all(bin(vals[a] ^ vals[b]).count("1") > 3 for a, b in far)
    n = 120_000
    df = spark.range(n).selectExpr(
        "format_string('img%07d', id) AS image_id",
        f"element_at(array({','.join(str(v) + 'L' for v in vals)}),"
        " CAST(id % 6 AS INT) + 1) AS phash",
    )
    out = phash_dup_clusters(df, max_hamming=3, chunk_size=256)
    # every row near-duplicates something (its own value group at least)
    assert out.count() == n
    clusters = {
        r["cluster_id"] for r in out.select("cluster_id").distinct().collect()
    }
    # components: {v0,v1} -> img0000000, {v2,v3} -> img0000002,
    # {v4} -> img0000004, {v5} -> img0000005
    assert clusters == {"img0000000", "img0000002", "img0000004", "img0000005"}
    sample = {
        r["image_id"]: r["cluster_id"]
        for r in out.filter(F.col("image_id") < "img0000012").collect()
    }
    assert sample["img0000001"] == "img0000000"   # hamming-1 bridge
    assert sample["img0000003"] == "img0000002"   # hamming-2 bridge
    assert sample["img0000006"] == "img0000000"   # exact dup of v0
    assert sample["img0000010"] == "img0000004"   # exact clique member
    assert sample["img0000011"] == "img0000005"


def test_near_dup_keys_layout(spark):
    """The one near-dup key: phash bands at positions 0..n_bands-1
    (lowest bits first), the caption's first 64 md5 bits at n_bands,
    then the embedding buckets; the caption's last 64 md5 bits are its
    verify column. A null phash, caption or bucket array is no key."""
    import hashlib

    from equi7grid_spark.dedup import caption_verify, near_dup_keys

    def md5_half(text, half):
        v = int(hashlib.md5(text.encode()).hexdigest()[16 * half : 16 * half + 16], 16)
        return v - (1 << 64) if v >= 1 << 63 else v

    rows = [
        ("p", 0x0123_4567_89AB_CDEF, "cat on a mat", [5, 9]),
        ("n", -1, "", [0, 65535]),
        ("z", None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, phash long, caption string, b array<int>"
    )
    keys = near_dup_keys(
        F.col("phash"), 4, 3, F.col("caption"), [F.col("b")[0], F.col("b")[1]]
    )
    got = {
        r.image_id: (r.k, r.cv)
        for r in df.select(
            "image_id", keys.alias("k"), caption_verify(F.col("caption")).alias("cv")
        ).collect()
    }
    assert got["p"] == (
        [0xCDEF, 0x89AB, 0x4567, 0x0123, md5_half("cat on a mat", 0), 5, 9],
        md5_half("cat on a mat", 1),
    )
    assert got["n"] == (
        [0xFFFF] * 4 + [md5_half("", 0), 0, 65535], md5_half("", 1)
    )
    assert got["z"] == ([None] * 7, None)
    assert df.select(near_dup_keys(F.col("phash"), 8).alias("k")).schema[
        "k"
    ].dataType.simpleString() == "array<bigint>"
    phash_only = df.filter("image_id = 'p'").select(
        near_dup_keys(F.col("phash"), 8).alias("k")
    )
    assert phash_only.first().k == [0xEF, 0xCD, 0xAB, 0x89, 0x67, 0x45, 0x23, 0x01]


def test_pigeonhole_guard_runs_no_job(spark):
    """max_hamming above n_bands - 1 loses pairs, so every near-dup
    operator raises ValueError before it runs any Spark job — the
    three-signal form too, whose input checkpoint is eager."""
    from equi7grid_spark.dedup import multimodal_near_dup, phash_dup_clusters

    df = _three_signal_df(spark)
    sc = spark.sparkContext
    sc.setJobGroup("pigeonhole_guard", "pigeonhole_guard")
    try:
        for call in (
            lambda: phash_near_dup(df, max_hamming=4, n_bands=4),
            lambda: phash_dup_clusters(df, max_hamming=4),
            lambda: multimodal_near_dup(df, max_hamming=4, n_bands=4),
            lambda: multimodal_near_dup(
                df, max_hamming=4, n_bands=4, embedding_col="embedding"
            ),
        ):
            with pytest.raises(ValueError, match="pigeonhole"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("pigeonhole_guard")) == []


def test_multimodal_caption_pairs_equal_bruteforce(spark):
    """The caption signal of multimodal_near_dup (128 md5 bits: the key
    and the verify column) equals brute-force caption equality on
    random captions with nulls and repeats, across multi-chunk
    buckets."""
    import random

    from equi7grid_spark.dedup import multimodal_near_dup

    rnd = random.Random(7)
    pool = [f"a photo of item {k}" for k in range(25)] + [""]
    rows = [
        (f"c{i:03d}", None if rnd.random() < 0.17 else rnd.choice(pool))
        for i in range(120)
    ]
    expected = {
        (a, b)
        for a, ca in rows
        for b, cb in rows
        if a < b and ca is not None and ca == cb
    }
    df = spark.createDataFrame(
        [(i, None, c) for i, c in rows], "image_id string, phash long, caption string"
    )
    out = multimodal_near_dup(df, chunk_size=8).collect()
    assert {r.signal for r in out} <= {"caption"}
    assert {(r.id_a, r.id_b) for r in out} == expected


def test_phash_dup_clusters_label_size_gate(spark):
    """The label broadcast of phash_dup_clusters is size-gated: the
    clusters are the same at the session's default
    spark.sql.autoBroadcastJoinThreshold and at -1, where no execution
    holds a BroadcastExchange."""
    from equi7grid_spark.dedup import phash_dup_clusters

    rows = _phash_path_graph(12) + [
        ("x", 0x0F0F_0F0F_0F0F_0F0F),
        ("y", 0x0F0F_0F0F_0F0F_0F0E),
        ("y2", 0x0F0F_0F0F_0F0F_0F0E),  # exact dup of y
        ("z", 0x7A7A_0000_FFFF_1111),   # singleton
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")

    def run():
        before = _sql_executions(spark)
        got = sorted(map(tuple, phash_dup_clusters(df, max_hamming=3).collect()))
        plans = [p for i, p in _sql_executions(spark).items() if i not in before]
        return got, sum("BroadcastExchange" in p for p in plans)

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    on, n_bcast_on = run()
    spark.conf.set(key, "-1")
    try:
        off, n_bcast_off = run()
    finally:
        spark.conf.set(key, prev)
    assert on == off
    assert ("n11", "n00") in on and ("y2", "x") in on
    assert n_bcast_on > 0 and n_bcast_off == 0


def _signed64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= 1 << 63 else v


def test_near_dup_pairs_one_row_per_pair(spark):
    """_near_dup_pairs gives each phash pair one row (at its lowest
    agreeing band) and each caption pair one row: on random hashes,
    planted variants at hamming 0-3 (hamming 0 agrees on all four
    bands), an identical-hash clique and repeated captions, with
    chunk_size=4 (multi-chunk buckets), the rows of each signal are
    unique pairs equal to the brute-force pairs."""
    import random

    from equi7grid_spark.dedup import _near_dup_pairs, caption_verify, near_dup_keys

    rnd = random.Random(17)
    pool = [f"caption {k}" for k in range(6)]
    rows = []
    for i in range(60):
        h = rnd.getrandbits(64)
        cap = rnd.choice(pool) if rnd.random() < 0.5 else f"own {i}"
        rows.append((f"p{i:03d}", _signed64(h), cap))
        if i % 3 == 0:
            mask = 0
            while bin(mask).count("1") < (i // 3) % 4:
                mask |= 1 << rnd.randrange(64)
            rows.append((f"p{i:03d}v", _signed64(h ^ mask), rnd.choice(pool)))
    rows += [(f"q{k}", rows[0][1], None) for k in range(6)]
    df = spark.createDataFrame(rows, "id string, ph long, cap string")
    keys = near_dup_keys(F.col("ph"), 4, 3, F.col("cap"))
    got = _near_dup_pairs(
        df.select("id", "ph", "cap", caption_verify(F.col("cap")).alias("cv")),
        keys, 4, 3, 4,
    ).collect()

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    pairs = [(a, b) for a in rows for b in rows if a[0] < b[0]]
    brute_ph = {(a[0], b[0]): ham(a[1], b[1]) for a, b in pairs if ham(a[1], b[1]) <= 3}
    brute_cap = {(a[0], b[0]) for a, b in pairs if a[2] is not None and a[2] == b[2]}
    ph = [((r.id_a, r.id_b), r.hamming) for r in got if r.k1 < 4]
    cap = [(r.id_a, r.id_b) for r in got if r.k1 == 4]
    assert len(ph) == len({p for p, _ in ph})
    assert dict(ph) == brute_ph
    assert len(cap) == len(set(cap))
    assert set(cap) == brute_cap
    assert {r.hamming for r in got if r.k1 == 4} == {None}
    assert 0 in brute_ph.values() and 3 in brute_ph.values()
    assert len(brute_cap) > 30


def test_pair_verify_lowest_band(spark):
    """pair_verify keeps a band candidate only at the lowest band on
    which h_a ^ h_b is zero: on planted XOR patterns (zero, the lowest
    zero band at every position, no zero band), for 4 and 8 bands, the
    kept band keys equal a plain-Python reference. hamming is the xor's
    popcount on band keys and null past them, where a caption candidate
    is kept when its values agree and an embedding one (no stored
    value) always."""
    import random

    from equi7grid_spark.dedup import pair_verify

    rnd = random.Random(5)
    for n_bands in (4, 8):
        w = 64 // n_bands
        full = (1 << w) - 1
        xs = [0, sum(rnd.randrange(1, full + 1) << (i * w) for i in range(n_bands))]
        for low in range(n_bands):
            for _ in range(3):
                x = 0
                for i in range(n_bands):
                    if i < low:
                        band = rnd.randrange(1, full + 1)
                    elif i == low:
                        band = 0
                    else:
                        band = rnd.choice([0, rnd.randrange(full + 1)])
                    x |= band << (i * w)
                xs.append(x)
        rows = []
        for c, x in enumerate(xs):
            h = rnd.getrandbits(64)
            for k1 in range(n_bands):
                rows.append((c, k1, _signed64(h), _signed64(h ^ x)))
            rows.append((c, n_bands, _signed64(h), _signed64(h ^ (c % 2))))
            rows.append((c, n_bands + 1, None, None))
        df = spark.createDataFrame(rows, "c int, k1 int, h_a long, h_b long")
        keep, ham = pair_verify(F.col("k1"), F.col("h_a"), F.col("h_b"), n_bands, 64)
        got = df.select("c", "k1", keep.alias("keep"), ham.alias("ham")).collect()
        for c, x in enumerate(xs):
            ref = [i for i in range(n_bands) if (x >> (i * w)) & full == 0][:1]
            mine = [r for r in got if r.c == c]
            assert [r.k1 for r in mine if r.k1 < n_bands and r.keep] == ref, (n_bands, hex(x))
            assert {r.ham for r in mine if r.k1 < n_bands} == {bin(x).count("1")}
            past = {r.k1: (r.keep, r.ham) for r in mine if r.k1 >= n_bands}
            assert past == {n_bands: (c % 2 == 0, None), n_bands + 1: (True, None)}


def test_phash_near_dup_plan_has_no_aggregate(spark):
    """phash_near_dup keeps each pair once in the pair join itself, so
    no distinct follows: its executed plans hold no HashAggregate."""
    base = 0x1234_5678_9ABC_DEF0
    rows = [("a", base), ("b", base), ("c", base ^ 0b101), ("d", 0x0F0F_0F0F_0F0F_0F0F)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    before = _sql_executions(spark)
    got = sorted(map(tuple, phash_near_dup(df).collect()))
    plans = [p for i, p in _sql_executions(spark).items() if i not in before]
    assert got == [("a", "b", 0), ("a", "c", 2), ("b", "c", 2)]
    assert plans and not any("HashAggregate" in p for p in plans)
