"""Planner-heuristic tests: the n_probe, binary-sketch and range-join
tuners, and the operators that consume their knobs."""

from pyspark.sql import functions as F

from fabstir_vectordb_spark.plans.tuning import tune_n_probe


def test_tune_n_probe_tiers():
    assert tune_n_probe(500, 10, 256) == 256          # tiny => probe all
    assert tune_n_probe(50_000, 10, 256) == 64        # medium => quarter
    assert tune_n_probe(1_000_000, 10, 256) == 32     # large => eighth
    assert tune_n_probe(1_000_000, 100, 256) == 96    # big k widens probes
    assert tune_n_probe(50_000_000, 10, 256) == 16


def test_tune_binary_knobs():
    from fabstir_vectordb_spark.plans.tuning import tune_binary

    assert tune_binary(64).bits == 256        # the measured-series config
    assert tune_binary(32).bits == 128
    assert tune_binary(8).bits == 64          # floor
    assert tune_binary(1024).bits == 512      # cap
    assert tune_binary(64).bits % 32 == 0
    assert tune_binary(64).oversample == 4                        # certified
    assert tune_binary(64, recall_target=0.8).oversample == 8     # pinned floor
    assert tune_binary(64, recall_target=0.95).oversample == 16   # conservative


def test_binary_sketch_consumes_planner_default(spark):
    """hamming_knn/_bulk with oversample=None must equal the explicit
    tune_binary depth — the planner default is CONSUMED, not just
    documented."""
    import numpy as np
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.binary import BinarySketch

    rng = np.random.RandomState(3)
    X = rng.normal(size=(200, 16))
    df = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(len(X))],
        "vec_id bigint, embedding array<double>",
    )
    sk = BinarySketch.fit(dim=16, bits=64, seed=5)
    sigs = sk.encode(df)
    qs = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    auto = sk.hamming_knn(sigs, qs, 5, rerank_vectors=df).collect()
    explicit = sk.hamming_knn(sigs, qs, 5, rerank_vectors=df, oversample=4).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))


def test_tune_range_encodes_measured_crossover(spark):
    """tune_range reproduces the range_join_compare study: sparse keys
    (<= 3,000 points/key) plan native, dense keys plan bucketed, and
    the bucket snaps to the grid width nearest the median interval
    length (tune_binary's study-to-planner contract for the temporal
    tier)."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.plans.tuning import (
        RANGE_DENSITY_CROSSOVER,
        tune_range,
    )

    base = 1_700_000_000

    def mk(users, per_user, iv_len):
        pts = spark.range(users * per_user).select(
            F.col("id").alias("event_id"),
            (F.col("id") % users).alias("user_id"),
            F.timestamp_seconds(
                F.lit(base) + F.floor(F.col("id") / users) * 60
            ).alias("ts"),
        )
        ivs = spark.range(users * max(per_user // 15, 1)).select(
            F.col("id").alias("iv_id"),
            (F.col("id") % users).alias("user_id"),
            F.timestamp_seconds(
                F.lit(base) + F.floor(F.col("id") / users) * iv_len
            ).alias("start"),
            F.timestamp_seconds(
                F.lit(base) + (F.floor(F.col("id") / users) + 1) * iv_len - 60
            ).alias("end"),
        )
        return pts, ivs

    # the study's 200-user / 3,000-points-per-key row: native wins
    sparse = tune_range(*mk(40, 500, 900), on="user_id")
    assert sparse.strategy == "native"
    assert sparse.points_per_key <= RANGE_DENSITY_CROSSOVER
    # 15-min intervals (minus the open minute) snap to the 900 s bucket
    assert sparse.bucket_seconds == 900

    # the dense side of the crossover: bucketed
    dense = tune_range(*mk(2, 10_000, 900), on="user_id")
    assert dense.strategy == "bucketed"
    assert dense.points_per_key > RANGE_DENSITY_CROSSOVER

    # bucket snapping: ~1-minute intervals -> 60 s, ~4 h -> 14400 s
    assert tune_range(*mk(4, 64, 65), on="user_id").bucket_seconds == 60
    assert tune_range(*mk(4, 64, 16000), on="user_id").bucket_seconds == 14400

    # degenerate: empty intervals -> native, default-ish bucket, no crash
    pts, ivs = mk(4, 64, 900)
    empty = tune_range(pts, ivs.filter(F.lit(False)), on="user_id")
    assert empty.strategy == "native"


def test_range_join_auto_bucket_matches_explicit(spark):
    """range_join with bucket_seconds=None (auto via tune_range) must
    return exactly the explicit-bucket answer — the knob is latency
    only, never semantics."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.temporal import range_join

    base = 1_700_000_000
    pts = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 37).alias("ts"),
    )
    ivs = spark.range(20).select(
        F.col("id").alias("iv_id"),
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 300).alias("start"),
        F.timestamp_seconds(
            F.lit(base) + F.col("id") * 300 + 450
        ).alias("end"),
    )
    auto = sorted(
        (r["event_id"], r["iv_id"])
        for r in range_join(pts, ivs, on="user_id").collect()
    )
    explicit = sorted(
        (r["event_id"], r["iv_id"])
        for r in range_join(
            pts, ivs, on="user_id", bucket_seconds=3600
        ).collect()
    )
    assert auto == explicit and auto  # non-empty and identical


def test_tune_range_arms_long_tail_on_pathological_p99(spark):
    """Auto mode measures the p99 interval span alongside the median:
    a benign fixture leaves long_interval_buckets None; planting a few
    year-long 'no expiry' rows (>1% of the table so p99 sees them)
    arms it at LONG_TAIL_BUCKETS."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.plans.tuning import (
        LONG_TAIL_BUCKETS,
        tune_range,
        tune_overlap,
    )

    def mk(n_iv, length_s):
        base = F.lit(1_700_000_000_000_000)
        ivs = spark.range(n_iv).select(
            (F.col("id") % 20).alias("user_id"),
            F.timestamp_micros(base + F.col("id") * 1_000_000_000).alias("start"),
            F.timestamp_micros(
                base + F.col("id") * 1_000_000_000 + length_s * 1_000_000
            ).alias("end"),
        )
        pts = spark.range(4000).select(
            (F.col("id") % 20).alias("user_id"),
            F.timestamp_micros(base + F.col("id") * 500_000_000).alias("ts"),
        )
        return pts, ivs

    pts, benign = mk(400, 900)
    assert tune_range(pts, benign, "user_id").long_interval_buckets is None

    year = 365 * 86_400
    outliers = mk(8, year)[1]  # 8 of 408 rows > p99 threshold
    mixed = benign.unionByName(outliers)
    plan = tune_range(pts, mixed, "user_id")
    assert plan.long_interval_buckets == LONG_TAIL_BUCKETS
    assert "long-tail" in plan.reason

    # overlap tuner: same arming from EITHER side's p99
    b, tail = tune_overlap(
        mixed, benign, ("start", "end"), ("start", "end")
    )
    assert tail == LONG_TAIL_BUCKETS
    b2, tail2 = tune_overlap(
        benign, benign, ("start", "end"), ("start", "end")
    )
    assert tail2 is None and b2 == b  # bucket from medians, unchanged


def test_range_join_auto_mode_with_long_tail_matches_explicit(spark):
    """Auto-armed stratification returns exactly the rows the plain
    bucketed join returns on a fixture with year-long outliers."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.temporal import range_join

    base = F.lit(1_700_000_000_000_000)
    ivs = spark.range(300).select(
        (F.col("id") % 10).alias("user_id"),
        F.col("id").alias("iv_id"),
        F.timestamp_micros(base + F.col("id") * 1_000_000_000).alias("start"),
        F.timestamp_micros(
            base + F.col("id") * 1_000_000_000
            + F.when(F.col("id") % 50 == 0, 365 * 86_400_000_000)
            .otherwise(900 * 1_000_000)
        ).alias("end"),
    )
    pts = spark.range(2000).select(
        (F.col("id") % 10).alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_micros(base + F.col("id") * 400_000_000).alias("ts"),
    )
    auto = range_join(pts, ivs, on="user_id")  # tuner decides both knobs
    plain = range_join(pts, ivs, on="user_id", bucket_seconds=900)
    key = lambda r: (r["event_id"], r["iv_id"])  # noqa: E731
    assert sorted(map(key, auto.collect())) == sorted(
        map(key, plain.collect())
    )
