"""Unit tests for the [EXT] operator libraries: as-of/range joins,
dedup (minhash/simhash), similarity, multimodal plumbing, streaming
sessionization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.functions import vectors as V
from database_fragmentation_and_query_processor_spark.operators import dedup as D
from database_fragmentation_and_query_processor_spark.operators import similarity as S
from database_fragmentation_and_query_processor_spark.operators.joins import (
    asof_join,
    range_join_bucketed,
)


def test_asof_join_matches_bruteforce(spark):
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 25, "p2"), (2, 5, "p3"), (3, 9, "p4")],
        "uid int, ts long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 8, "c1"), (1, 20, "c2"), (1, 25, "c3"), (2, 6, "c4")],
        "uid int, ts long, cid string",
    )
    got = {
        (r.pid, r.cid_right)
        for r in asof_join(left, right, on=["uid"], ts_col="ts").collect()
    }
    # p1@10 → c1@8; p2@25 → c3@25 (inclusive >=); p3@5 → none (c4@6 later);
    # p4 (uid 3) → none
    assert got == {("p1", "c1"), ("p2", "c3")}


def test_range_join_bucketed_equals_broadcast_path(spark):
    fact = spark.createDataFrame(
        [(i, float(i * 7 % 100)) for i in range(50)], "id int, v double"
    )
    bands = spark.createDataFrame(
        [("lo", 0.0, 30.0), ("mid", 30.0, 70.0), ("hi", 70.0, 100.0)],
        "band string, lo double, hi double",
    )
    a = sorted(
        (r.id, r.band)
        for r in range_join_bucketed(fact, bands, "v", "lo", "hi").collect()
    )
    b = sorted(
        (r.id, r.band)
        for r in range_join_bucketed(
            fact, bands, "v", "lo", "hi", bucket_width=25.0
        ).collect()
    )
    assert a == b and len(a) == 50


def test_minhash_lsh_finds_planted_duplicates(spark):
    base = [
        (i, " ".join(f"tok{(i * 13 + j) % 97}" for j in range(30)))
        for i in range(40)
    ]
    # plant two exact dups and one near-dup (one token changed)
    rows = base + [(100, base[0][1]), (101, base[1][1]),
                   (102, base[2][1].replace("tok26", "tokX"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in D.near_dup_pairs(df, threshold=0.5, k=16, bands=8).collect()
    }
    assert (0, 100) in pairs and (1, 101) in pairs and (2, 102) in pairs


def test_incremental_near_dup_matches_full_recompute(spark):
    """Index + batch must equal the full-corpus pipeline restricted to
    pairs touching the batch, and the updated index must equal a fresh
    build over the whole corpus."""
    base = [
        (i, " ".join(f"tok{(i * 13 + j) % 97}" for j in range(30)))
        for i in range(40)
    ]
    # dups planted across the old/new split: 100 duplicates old doc 0,
    # 41 (new) duplicates old doc 1; 42/43 are a near-dup pair inside
    # the new batch
    rows = base + [
        (100, base[0][1]),
        (41, base[1][1]),
        (42, base[2][1]),
        (43, base[2][1].replace("tok26", "tokX")),
    ]
    old = [(i, t) for i, t in rows if i < 41 or i == 100]
    new = [(i, t) for i, t in rows if 41 <= i <= 43]
    full_df = spark.createDataFrame(rows, "doc_id long, text string")
    old_df = spark.createDataFrame(old, "doc_id long, text string")
    new_df = spark.createDataFrame(new, "doc_id long, text string")

    kw = dict(threshold=0.5, k=16, bands=8)
    index = D.build_dedup_index(old_df, k=16)
    inc_pairs, updated = D.incremental_near_dup_pairs(index, new_df, **kw)
    got = {(r.id_a, r.id_b) for r in inc_pairs.collect()}

    new_ids = {41, 42, 43}
    want = {
        (r.id_a, r.id_b)
        for r in D.near_dup_pairs(full_df, **kw).collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert got == want and (1, 41) in got and (42, 43) in got
    # updated index ≡ fresh full build
    fresh = D.build_dedup_index(full_df, k=16)
    assert sorted(map(repr, updated.collect())) == sorted(map(repr, fresh.collect()))


def test_simhash_close_for_near_texts(spark):
    t1 = " ".join(f"w{i}" for i in range(50))
    t2 = t1.replace("w25", "zzz")  # one token differs
    t3 = " ".join(f"q{i}" for i in range(50))  # unrelated
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3)], "id long, text string"
    )
    sigs = {r.id: r.s for r in df.select("id", D.simhash(F.col("text"), 32).alias("s")).collect()}
    d12 = bin(sigs[1] ^ sigs[2]).count("1")
    d13 = bin(sigs[1] ^ sigs[3]).count("1")
    assert d12 < d13, (d12, d13)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT "), (3, "other")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in D.exact_dedup(df).collect())
    assert kept == [1, 3]  # normalization: case + whitespace folding


def test_lsh_topk_contains_true_top1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = list(emb.where(F.col("vec_id") == 0).head()[1])
    exact = [r.vec_id for r in S.brute_force_topk(emb, qvec, k=1).collect()]
    approx = [r.vec_id for r in S.lsh_topk(emb, qvec, k=10, probe_hamming=3).collect()]
    assert exact[0] in approx  # query vector itself (cos=1) must be found


def test_knn_join_bruteforce_self_top1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).limit(5)
    res = S.knn_join_bruteforce(emb, queries, k=1)
    got = {(r.query_id, r.vec_id) for r in res.collect()}
    assert got == {(i, i) for i, _ in enumerate(range(5))} or all(
        q == v for q, v in got
    )


def test_multimodal_feature_extraction_shape(spark, sf_dir):
    from database_fragmentation_and_query_processor_spark.multimodal import (
        extract_features,
    )
    from database_fragmentation_and_query_processor_spark.multimodal.binary_ops import (
        documents_as_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    feats = extract_features(documents_as_media(docs)).collect()
    assert len(feats) == 20
    assert all(len(r.feature) == 8 for r in feats)
    assert all(r.n_bytes > 0 for r in feats)
    # deterministic: same input → same feature
    again = extract_features(documents_as_media(docs)).collect()
    assert sorted(map(repr, feats)) == sorted(map(repr, again))


def test_streaming_sessionizer_closes_gap_sessions(spark, tmp_path):
    """Drive the applyInPandasWithState sessionizer on a crafted stream:
    two bursts 45 min apart, then a flush tombstone — burst A closes by
    the gap rule, burst B by the flush drain. The drain runner stops
    the query deterministically (applyInPandasWithState never
    self-terminates under AvailableNow; the old form of this test
    leaked a running query and depended on processing-time timeout
    timing). The timeout branch itself stays for live unbounded
    streams and is exercised only for coverage of the close-out shape
    by the flush path, which reuses the same session-closing logic."""
    import pandas as pd

    from database_fragmentation_and_query_processor_spark.streaming.events import (
        EVENTS_STREAM_SCHEMA,
        run_stateful_drained,
        sessionize_stateful,
    )

    us = 1_000_000
    rows = [
        # user 7: burst A (3 events in 2 min), 45 min silence, burst B
        (1, 7, "click", 1.0, "{}", 0 * us),
        (2, 7, "click", 1.0, "{}", 60 * us),
        (3, 7, "click", 1.0, "{}", 120 * us),
        (4, 7, "click", 1.0, "{}", (120 + 2700) * us),
        (5, 7, "click", 1.0, "{}", (180 + 2700) * us),
        (-1, 7, "flush", 0.0, "{}", (180 + 2700 + 3600) * us),
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "user_id", "event_type", "value", "props", "tsn"],
    )
    spark.createDataFrame(pdf, EVENTS_STREAM_SCHEMA).coalesce(1).write.parquet(
        str(src / "batch0")
    )
    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(str(src / "batch0"))
    table = run_stateful_drained(
        sessionize_stateful(stream, flush_type="flush"),
        spark,
        expected_input_rows=len(rows),
        state_partitions=4,
    )
    closed = sorted(table.collect(), key=lambda r: r.session_start_us)
    assert [r.n_events for r in closed] == [3, 2]
    assert closed[0].session_start_us == 0 and closed[0].session_end_us == 120 * us
    assert closed[1].session_start_us == (120 + 2700) * us
    assert closed[1].session_end_us == (180 + 2700) * us


def test_pandas_udf_cosine_matches_expression(spark, sf_dir):
    """The Arrow-batched Pandas UDF path must agree with the JVM
    expression path to 1e-9 (both are float64 cosine)."""
    from database_fragmentation_and_query_processor_spark.functions.vectors import (
        cosine,
        make_cosine_pandas_udf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    qvec = [float(v) for v in emb.head()["embedding"]]
    udf = make_cosine_pandas_udf(qvec)
    q = F.array(*[F.lit(v) for v in qvec])
    both = emb.select(
        "vec_id",
        cosine(F.col("embedding"), q).alias("expr_cos"),
        udf(F.col("embedding")).alias("udf_cos"),
    ).collect()
    assert len(both) == 200
    for r in both:
        assert abs(r["expr_cos"] - r["udf_cos"]) < 1e-9, r


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ estimate must land within 5% of the exact distinct count
    (rsd is configured at 2%). The declared query exposes the bound as
    the checked boolean; this test re-derives the numeric error so a
    bound violation shows the actual estimate, not just a False flag."""
    from pyspark.sql import functions as F

    from database_fragmentation_and_query_processor_spark.queries import (
        common,
        registry,
    )

    flags = registry.QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    assert flags and all(r["hll_within_5pct"] for r in flags), flags

    raw = (
        common._events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    for r in raw:
        rel = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert rel <= 0.05, (r["event_type"], r["approx_users"], r["exact_users"])


def test_jsonl_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from database_fragmentation_and_query_processor_spark.sources.jsonl import (
        quarantine_split,
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ])
    back = read_jsonl(spark, out, schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    # corrupt-line quarantine: 2 good lines + 1 broken one
    mixed = tmp_path / "mixed.jsonl"
    mixed.write_text(
        '{"doc_id": 1, "lang": "en", "source": "a"}\n'
        "{not json at all\n"
        '{"doc_id": 2, "lang": "de", "source": "b"}\n'
    )
    raw = read_jsonl(spark, str(mixed), schema, keep_corrupt=True)
    good, bad = quarantine_split(raw)
    assert good.count() == 2 and bad.count() == 1


def test_embedding_near_dup_bucketed_recall_audit(spark):
    """Small-sf recall audit: the LSH-bucketed near-dup path (the
    declared 100 TB query) must find the same pairs as the exact
    O(n²) variant when the near-dups are genuine (cosine ≈ 1 vectors
    agree on every sign bit, so bucketing loses nothing)."""
    import random

    rng = random.Random(7)
    rows = []
    base = [rng.uniform(-1, 1) for _ in range(64)]
    for i in range(40):
        vec = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, vec))
    # three true near-dups of vector 0: tiny perturbations
    for j, eps in ((100, 1e-4), (101, 5e-4), (102, 1e-3)):
        rows.append((j, [v + eps for v in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = sorted(
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs(
            emb, threshold=0.99, bucketed=False
        ).collect()
    )
    bucketed = sorted(
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs(
            emb, threshold=0.99, bucketed=True, n_planes=12, dim=64
        ).collect()
    )
    assert len(exact) >= 3  # the planted pairs are found at all
    assert bucketed == exact


def test_connected_components_chain_and_stars(spark):
    """Min-label propagation must converge past star graphs: a chain
    9-8-7-...-0 needs multiple rounds to pull every node down to 0."""
    from database_fragmentation_and_query_processor_spark.operators.graph import (
        cluster_sizes,
        connected_components,
    )

    edges = [(i, i + 1) for i in range(9)]          # one chain, comp 0
    edges += [(100, 101), (100, 102), (100, 103)]   # star, comp 100
    edges += [(200, 201)]                           # pair, comp 200
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    labels = {r.node: r.label for r in connected_components(df).collect()}
    assert all(labels[i] == 0 for i in range(10))
    assert all(labels[i] == 100 for i in (100, 101, 102, 103))
    assert labels[200] == labels[201] == 200
    sizes = {r.cluster_id: r.n_docs for r in cluster_sizes(
        connected_components(df)).collect()}
    assert sizes == {0: 10, 100: 4, 200: 2}


def test_fuzzy_join_full_recall_vs_cross_join(spark):
    """The length-bucket blocking must lose NOTHING: compare against the
    exact cross-join Levenshtein filter on a vocabulary with pairs that
    straddle bucket boundaries (lengths 1..12, distance up to 3)."""
    import itertools
    import random

    from database_fragmentation_and_query_processor_spark.operators.joins import fuzzy_join

    rng = random.Random(11)
    alphabet = "abcde"
    vocab = list({
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(80)
    })
    df = spark.createDataFrame([(w,) for w in vocab], "w string")
    for d in (1, 2, 3):
        a = df.select(F.col("w").alias("wa"))
        b = df.select(F.col("w").alias("wb"))
        exact = sorted(
            (r.wa, r.wb)
            for r in a.crossJoin(b)
            .where(
                (F.levenshtein("wa", "wb") <= d) & (F.col("wa") < F.col("wb"))
            )
            .collect()
        )
        blocked = sorted(
            (r.wa, r.wb)
            for r in fuzzy_join(a, b, "wa", "wb", max_distance=d)
            .where(F.col("wa") < F.col("wb"))
            .collect()
        )
        assert blocked == exact, f"recall loss at d={d}"


def test_cache_registry_releases_tracked_persists(spark, sf_dir):
    """Operators that persist shared intermediates route them through
    cache.track; release_all must actually unpersist them (long-lived
    sessions composing queries would otherwise leak storage memory)."""
    from database_fragmentation_and_query_processor_spark.cache import release_all
    from database_fragmentation_and_query_processor_spark.operators import dedup as D

    release_all()  # start clean
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    D.near_dup_pairs(docs, threshold=0.9).count()  # persists shingle_sets
    assert release_all() >= 1
    assert release_all() == 0  # registry drained


def test_blocked_jaccard_sample_frac(spark, sf_dir):
    """The audit's stratum-sampling knob: the sampled run's pairs must
    be exactly the exhaustive pairs restricted to sampled doc ids
    (deterministic md5 stratum — two runs agree), and full-rate
    sampling must equal no sampling."""
    from database_fragmentation_and_query_processor_spark.operators import dedup as D
    from database_fragmentation_and_query_processor_spark.operators.sampling import (
        hash_bucket,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    full = {
        (r.id_a, r.id_b)
        for r in D.blocked_jaccard_pairs(docs, threshold=0.3).collect()
    }
    frac = 0.5
    sampled = {
        (r.id_a, r.id_b)
        for r in D.blocked_jaccard_pairs(
            docs, threshold=0.3, sample_frac=frac
        ).collect()
    }
    kept_ids = {
        r.doc_id
        for r in docs.where(
            hash_bucket(F.col("doc_id"), "jaccard_audit") < int(frac * 1000)
        ).collect()
    }
    want = {(a, b) for (a, b) in full if a in kept_ids and b in kept_ids}
    assert sampled == want
    assert {
        (r.id_a, r.id_b)
        for r in D.blocked_jaccard_pairs(
            docs, threshold=0.3, sample_frac=1.0
        ).collect()
    } == full


def test_blocked_jaccard_max_block_docs_guard(spark, sf_dir):
    """The audit's scale contract: an over-cap block must fail FAST
    (before the quadratic pair join), an under-cap run must be
    unaffected, and sampling below the cap must clear the guard."""
    import pytest as _pytest

    from database_fragmentation_and_query_processor_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    # every doc in this slice shares lang values → blocking only on
    # lang leaves a block far larger than a cap of 5
    with _pytest.raises(ValueError, match="max_block_docs"):
        D.blocked_jaccard_pairs(docs, threshold=0.3, max_block_docs=5).collect()
    # a generous cap changes nothing
    capped = {
        (r.id_a, r.id_b)
        for r in D.blocked_jaccard_pairs(
            docs, threshold=0.3, max_block_docs=10_000
        ).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in D.blocked_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert capped == full
    # the guard runs AFTER sampling: a stratum that fits the cap passes
    D.blocked_jaccard_pairs(
        docs, threshold=0.3, sample_frac=0.02, max_block_docs=5
    ).collect()


def test_bloom_semi_join_equals_plain_semi(spark):
    from pyspark.sql import functions as F

    from database_fragmentation_and_query_processor_spark.operators.joins import (
        bloom_semi_join,
    )

    fact = spark.range(0, 5000).select((F.col("id") % 700).alias("fk"), "id")
    dim = spark.range(0, 700, 7).select(F.col("id").alias("dk"))
    got = sorted(
        (r["fk"], r["id"])
        for r in bloom_semi_join(fact, dim, "fk", "dk", n_bits=256, n_hashes=3).collect()
    )
    want = sorted(
        (r["fk"], r["id"])
        for r in fact.join(dim, fact.fk == dim.dk, "left_semi").collect()
    )
    assert got == want and len(got) > 0


def test_csv_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from database_fragmentation_and_query_processor_spark.sources.csv_src import (
        quarantine_split as csv_quarantine,
        read_csv,
        write_csv,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    out = str(tmp_path / "docs_csv")
    write_csv(docs, out)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ])
    back = read_csv(spark, out, schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    # malformed-line quarantine: bad type in doc_id
    mixed = tmp_path / "mixed.csv"
    mixed.write_text(
        "doc_id,lang,source\n"
        "1,en,a\n"
        "notanumber,xx,broken\n"
        "2,de,b\n"
    )
    raw = read_csv(spark, str(mixed), schema, keep_corrupt=True)
    good, bad = csv_quarantine(raw)
    assert good.count() == 2 and bad.count() == 1


def test_stream_stream_attribution_state_bounds(spark, sf_dir):
    """The join must carry watermarks on both sides (bounded state) and
    produce exactly the batch correlation."""
    from pyspark.sql import functions as F

    from database_fragmentation_and_query_processor_spark.streaming.events import (
        read_events_stream,
        run_available_now_append,
        stream_stream_attribution,
    )

    s = read_events_stream(spark, sf_dir)
    got = run_available_now_append(
        stream_stream_attribution(
            s.where(F.col("event_type") == "click"),
            s.where(F.col("event_type") == "purchase"),
        ),
        spark,
    )
    from database_fragmentation_and_query_processor_spark.queries import common

    ev = common._events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.col("tsn").alias("us")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("us").alias("ct"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("us").alias("pt"),
    )
    want = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pt") >= F.col("ct"))
        & (F.col("pt") <= F.col("ct") + 3_600_000_000),
    ).select(F.col("cu").alias("user_id"), "click_id", "purchase_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0
