"""sf≈1 synthetic stress (SCALE.md §7): the iterative / stateful
operators run against ~10x the sf0.1 fixtures, generated
deterministically in tmp, and are checked for exact results — not just
completion.

Three verification shapes, strongest available per op:

* **Block invariance** (dedup_connected_components): documents are
  replicated into 10 disjoint ``lang``-suffixed blocks. Language is the
  postings-join blocking key, so the candidate-pair work grows linearly
  in blocks (the 100 TB contract: blocking bounds the quadratic), no
  cross-block edge can exist, and block k's component assignment must
  equal the sf0.1 baseline shifted by k*1_000_000 — a distributed-
  invariance check that grades every label without a second 10x run.
* **Oracle parity at 10x** (kmeans IVF, power iteration, session /
  sliding streaming): the registered DuckDB oracle SQL is re-run over
  the 10x fixtures and compared with the driver's normalize rules —
  the same gate as CORRECTNESS, two decades above the graded SF.
* **Bounded driver memory**: the ops return aggregates/top-k (CC labels
  are the one per-doc output and are compared distributed-ly sorted);
  nothing here collects the 1M-row inputs.

Excluded from the default run via ``-m "not slow"`` (pytest.ini);
invoke with ``python -m pytest tests/test_scale_stress.py -m slow``.
Findings recorded in SCALE.md §7.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from etl_intraday_bidask_spark.registry import load_all_operators
from etl_intraday_bidask_spark.tables import TABLE_NAMES
from tests.test_parity import normalize

pytestmark = pytest.mark.slow

REGISTRY = load_all_operators()
SF_BASE = "/root/testdata/sf0.1"
N_BLOCKS = 10
DOC_STRIDE = 1_000_000
EV_STRIDE = 100_000_000


@pytest.fixture(scope="module")
def big_dir(tmp_path_factory) -> str:
    """~10x sf0.1, generated deterministically with DuckDB.

    documents: 10 disjoint lang-suffixed replica blocks (see module
    docstring). events: 10 replicas with unique event_ids, timestamps
    staggered by 37 µs per replica (inside every watermark), and
    user_ids spread over 5 key ranges so stateful key cardinality grows
    5x while per-key traffic doubles. embeddings: 10 replicas with
    unique vec_ids (exact duplicate vectors — ties are the stress).
    The 7 TPC-H tables symlink to sf0.1 unchanged.
    """
    big = str(tmp_path_factory.mktemp("sfbig"))
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT doc_id + r.k * {DOC_STRIDE} AS doc_id, text,
                 lang || '_' || r.k AS lang, source, n_chars
          FROM read_parquet('{SF_BASE}/documents.parquet'),
               (SELECT unnest(range({N_BLOCKS})) AS k) r
        ) TO '{big}/documents.parquet' (FORMAT parquet)
    """)
    con.execute(f"""
        COPY (
          SELECT event_id + r.k * {EV_STRIDE} AS event_id,
                 ts + to_microseconds((r.k * 37)::BIGINT) AS ts,
                 user_id + (r.k % 5) * {DOC_STRIDE} AS user_id,
                 event_type, value, props
          FROM read_parquet('{SF_BASE}/events.parquet'),
               (SELECT unnest(range({N_BLOCKS})) AS k) r
        ) TO '{big}/events.parquet' (FORMAT parquet)
    """)
    con.execute(f"""
        COPY (
          SELECT vec_id + r.k * {DOC_STRIDE} AS vec_id, embedding, label
          FROM read_parquet('{SF_BASE}/embeddings.parquet'),
               (SELECT unnest(range({N_BLOCKS})) AS k) r
        ) TO '{big}/embeddings.parquet' (FORMAT parquet)
    """)
    con.close()
    for name in TABLE_NAMES:
        dst = os.path.join(big, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_BASE, f"{name}.parquet"), dst)
    return big


@pytest.fixture(scope="module")
def duck_big(big_dir):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{big_dir}/{name}.parquet')"
        )
    yield con
    con.close()


def oracle_parity_10x(spark, duck_big, big_dir, name):
    spec = REGISTRY[name]
    df = spec.spark_fn(spark, big_dir)
    s_rows, s_cols = df.collect(), df.columns
    rel = duck_big.sql(spec.oracle_sql)
    d_rows, d_cols = rel.fetchall(), list(rel.columns)
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows), (
        f"{name}@10x: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    assert normalize(s_rows, s_cols) == normalize(d_rows, d_cols), (
        f"{name}@10x: value mismatch"
    )
    return len(s_rows)


def test_connected_components_block_invariance(spark, big_dir):
    """10 disjoint blocks; block k's labels == sf0.1 baseline + k*stride.

    Grades every one of the ~25k label assignments at 10x, catches any
    nondeterminism or cross-partition contamination in the propagation
    loop, and proves the lang-blocked pair join produced no cross-block
    edge (one would merge components across blocks and shift a min)."""
    cc = REGISTRY["dedup_connected_components"]
    base = sorted(map(tuple, cc.spark_fn(spark, SF_BASE).collect()))
    big = cc.spark_fn(spark, big_dir).collect()
    assert len(big) == N_BLOCKS * len(base)
    by_block: dict[int, list[tuple]] = {k: [] for k in range(N_BLOCKS)}
    for doc_id, component, n_members in big:
        k = doc_id // DOC_STRIDE
        by_block[k].append(
            (doc_id - k * DOC_STRIDE, component - k * DOC_STRIDE, n_members)
        )
    for k in range(N_BLOCKS):
        assert sorted(by_block[k]) == base, f"block {k} diverges from sf0.1"


def test_kmeans_ivf_oracle_parity_10x(spark, duck_big, big_dir):
    """2-round Lloyd kmeans + IVF probe at 20k vectors with exact
    duplicate ties — both engines must agree on every assignment."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "knn_ivf_kmeans")
    assert n > 0


def test_power_iteration_oracle_parity_10x(spark, duck_big, big_dir):
    """3 unrolled int64 matvec rounds over the 10x Gram matrix."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "embed_power_iteration")
    assert n > 0


def test_stream_session_oracle_parity_10x(spark, duck_big, big_dir):
    """Session windows over 1M events / 5x key cardinality: the state
    store path, graded exactly against the batch oracle."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "stream_session_30m")
    assert n > 100_000  # ~477k sessions at 10x — the state genuinely grew


def test_stream_sliding_append_oracle_parity_10x(spark, duck_big, big_dir):
    """Sliding windows in append mode (watermark-closed emission) over
    1M events — eviction correctness at 10x state."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "stream_sliding_append_closed")
    assert n > 0


# --- wave-B stress ---


def test_active_users_oracle_parity_10x(spark, duck_big, big_dir):
    """DAU/WAU/MAU explode fan-out over 1M events / 5x key cardinality:
    the distinct (day,user) grain grows 5x and every rolling count must
    still match the range-join oracle exactly — proves the bounded
    explode is lossless, not just fast."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "events_active_users_rolling")
    assert n > 0


def test_cms_heavy_hitters_oracle_parity_10x(spark, duck_big, big_dir):
    """Count-Min at 10x traffic and 5x users: heavier cells, more
    collisions — estimates and overcounts must stay hash-identical to
    DuckDB's recomputation of the same sketch."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "agg_heavy_hitters_cms")
    assert n == 10


def test_transition_matrix_oracle_parity_10x(spark, duck_big, big_dir):
    """Markov transitions over 1M events with 37 µs-staggered replica
    timestamps: per-user sequences interleave replicas tightly, so any
    tie-break divergence in the lag ordering shows up as a count shift."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "cep_transition_matrix")
    assert n > 0


# --- wave-C stress ---


def test_market_beta_oracle_parity_10x(spark, duck_big, big_dir):
    """Per-user exact OLS at 1M events / 5x key cardinality: the
    128-bit cross moments and leave-one-out market join must stay
    exact when hourly market cents grow 10x."""
    n = oracle_parity_10x(
        spark, duck_big, big_dir, "bidask_market_beta_per_user"
    )
    assert n > 0


def test_hazard_curve_oracle_parity_10x(spark, duck_big, big_dir):
    """Survival hazard over 1M events: denser per-user sequences shift
    mass into the low buckets; reverse-cumulative at-risk counts and
    integer hazards must match exactly."""
    n = oracle_parity_10x(spark, duck_big, big_dir, "events_hazard_curve")
    assert n > 0


def test_incremental_dedup_oracle_parity_10x(spark, duck_big, big_dir):
    """Incremental batch dedup over 10x documents: the replica blocks
    guarantee every odd-id incoming doc has an even-id twin with
    identical text somewhere, so the existing-hash probe join carries
    real duplicate mass at scale. (The LSH band sweep is NOT stressed
    at 10x: its minhash build is O(n tokens x 16 hashes) x 3 configs
    on BOTH engines and blows the wall-clock budget; its scale
    behavior is already proven at sf0.1 and its machinery is shared
    with dedup_minhash_lsh.)"""
    n = oracle_parity_10x(
        spark, duck_big, big_dir, "dedup_incremental_batch"
    )
    assert n > 0


# ---- wave D/E stress parity at ~sf1 (round 6) ----------------------


def test_auc_grid_reduction_10x(spark, duck_big, big_dir):
    """The doubled-U grid algebra at ~1M scored rows: the score grid
    stays bounded (duplicated replicas share values), so the window
    input doesn't grow 10x — exactly the scale claim — and the exact
    integers still hash-match."""
    oracle_parity_10x(spark, duck_big, big_dir, "eval_auc_exact")


def test_markov_value_iteration_10x(spark, duck_big, big_dir):
    """8 rounds of integer value iteration over ~1M transitions: the
    chain matrix stays |states|^2 and the iteration is bit-stable at
    10x the transition mass."""
    oracle_parity_10x(spark, duck_big, big_dir, "attr_markov_removal_effect")


def test_vpin_volume_clock_10x(spark, duck_big, big_dir):
    """The volume-clock prefix sum over ~20k trades: bucket boundaries
    and tick signs are exact integers, so the 10x stream hash-matches."""
    oracle_parity_10x(spark, duck_big, big_dir, "bidask_vpin_volume_buckets")


def test_changepoint_binseg_10x(spark, duck_big, big_dir):
    """Cross-multiplied between-variance scores on the 10x daily
    series: int64 headroom holds (counts 10x, squares 100x) and the
    argmax is deterministic."""
    oracle_parity_10x(spark, duck_big, big_dir, "ts_changepoint_binseg")


def test_pr_auc_exact_10x(spark, duck_big, big_dir):
    """Average precision at ~1M scored rows (round 7, ahead of the
    wave-D activation): the cumulative window runs on the bounded
    score GRID while per-score masses grow 10x, and the ppm-floored
    precision terms stay inside int64 (tp_cum*1e6 ~ 1e13) — the two
    failure modes a 100x corpus would hit first."""
    oracle_parity_10x(spark, duck_big, big_dir, "eval_pr_auc_exact")


def test_ks_statistic_10x(spark, duck_big, big_dir):
    """KS distance between the two class CDFs at 10x mass: per-score
    class counts change (replicas stack on the same grid), so the
    running CDFs and the argmax gap must re-derive exactly — ties on
    the shared grid are resolved by the same integral cross-
    multiplication on both engines."""
    oracle_parity_10x(spark, duck_big, big_dir, "eval_ks_statistic")


def test_psi_score_drift_10x(spark, duck_big, big_dir):
    """PSI between score populations at 10x: decile boundaries come
    from a rank over the bounded grid, and both engines must land
    every 10x-heavier score group in the same bin before the
    log-ratio terms quantize."""
    oracle_parity_10x(spark, duck_big, big_dir, "eval_psi_score_drift")


def test_lift_gain_deciles_10x(spark, duck_big, big_dir):
    """Cumulative lift/gain deciles at 10x: the global decile
    assignment is the tie-prone step (equal scores straddling a
    boundary), and the replica blocks create exactly those cross-
    partition ties."""
    oracle_parity_10x(spark, duck_big, big_dir, "eval_lift_gain_deciles")


def test_garman_klass_vol_10x(spark, duck_big, big_dir):
    """Garman-Klass volatility at 10x events: the per-bar OHLC terms
    square log ranges, so 10x-denser bars move every ln2/ln-chain
    input — the estimator must re-derive exactly on both engines."""
    oracle_parity_10x(spark, duck_big, big_dir, "bidask_garman_klass_vol")


def test_kaplan_meier_10x(spark, duck_big, big_dir):
    """Kaplan-Meier weekly survival at 10x cohorts: exercises the
    round-7 zero-factor fix (a risk set emptied by censoring must
    contribute a factor of exactly 1, not NULL-poison the product)
    with 10x the at-risk mass behind every factor."""
    oracle_parity_10x(spark, duck_big, big_dir, "events_kaplan_meier_weekly")


def test_rich_club_10x(spark, duck_big, big_dir):
    """Rich-club coefficient at 10x the graph: exercises the round-7
    denominator fix (top-degree set size derived from the data, not
    hardcoded) — the 10x user graph changes both the club membership
    and its size, so a stale constant cannot survive this check."""
    oracle_parity_10x(spark, duck_big, big_dir, "graph_rich_club_topdeg")


def test_anchored_vwap_10x(spark, duck_big, big_dir):
    """Anchored VWAP at 10x trades: the month-anchored cumulative
    price*volume and volume sums grow 10x — int64 prefix-sum headroom
    and identical anchor boundaries on both engines."""
    oracle_parity_10x(spark, duck_big, big_dir, "bidask_anchored_vwap_monthly")


def test_aqe_skew_join_splits_hot_partition(spark, tmp_path):
    """AQE's OptimizeSkewedJoin is observable in local mode (VERDICT r6
    filed it as cluster-only): a fact with 30% of rows on ONE key,
    sort-merge-joined (broadcast disabled) against a unique-key dim,
    gets its hot partition split into advisory-sized pieces at
    runtime — the executed plan carries skew=true — and the result is
    identical to the non-AQE plan. Thresholds are scaled to the demo
    data the same way bench.py scales maxPartitionBytes (the hot
    partition here is ~5 MB; at 100 TB it is hundreds of GB over the
    256 MB default trigger). tools/skew_study.py measures the walls:
    AQE 0.78 s vs 1.33 s straggler baseline vs 1.21 s manual ×16
    salting on 5M rows — the reason session.py keeps AQE on and
    salting is reserved for group-by-key skew AQE cannot touch."""
    import duckdb as _duck

    from pyspark.sql import functions as F

    d = str(tmp_path)
    con = _duck.connect()
    n, keys, hot = 1_000_000, 20_000, 300_000
    con.execute(
        f"""COPY (SELECT CASE WHEN i < {hot} THEN 1
                        ELSE 1 + (hash(i) % {keys}) END AS k,
                       CAST(i AS BIGINT) AS row_id,
                       CAST(hash(i * 7) % 10000 AS BIGINT) AS amount
               FROM (SELECT unnest(range({n})) AS i))
           TO '{d}/fact.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 100000)"""
    )
    con.execute(
        f"""COPY (SELECT CAST(1 + i AS BIGINT) AS k,
                       CAST(hash(i * 13) % 100 AS BIGINT) AS w
               FROM (SELECT unnest(range({keys})) AS i))
           TO '{d}/dim.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 100000)"""
    )
    con.close()

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
        # Skew detection also needs hot > 5x the MEDIAN partition; with
        # the suite session's small partition count the median itself
        # is fat enough to mask the hot key, so pin a realistic count.
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(f"{d}/fact.parquet")
        dim = spark.read.parquet(f"{d}/dim.parquet")

        def q():
            return fact.join(dim, "k").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("amount") * F.col("w")).alias("v"),
            )

        spark.conf.set("spark.sql.adaptive.enabled", "false")
        base = q().collect()
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        df = q()
        adaptive = df.collect()
        assert [tuple(r) for r in base] == [tuple(r) for r in adaptive]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_spill_identical_results_under_memory_pressure():
    """Operators whose working set exceeds execution memory must spill,
    not fail — and the spilled run must return byte-identical results.
    tools/spill_study.py runs a high-cardinality hash aggregate and a
    sort-merge self-join in two fresh JVMs differing ONLY in driver
    (== local-mode executor) memory; at the tight setting both
    workloads exceed the unified execution pool and take the external
    (disk-spilling) paths — UnsafeExternalSorter and HashAggregate's
    sort-based fallback — while the roomy JVM stays fully in memory.
    The parent asserts the content fingerprints match; this test
    additionally pins that spill actually HAPPENED at tight and did
    NOT at roomy, so the assertion can never go vacuous by both runs
    fitting in memory. Full-scale numbers (12M rows, 1g vs 6g) live in
    BASELINE.md."""
    import json as _json
    import os as _os
    import subprocess as _sp
    import sys as _sys

    env = dict(_os.environ)
    # 768m (not 512m): the tight child needs GC headroom beyond the
    # 300 MB reserved floor — at 512m the verification re-sort pushed
    # it into GC-overhead failure when the whole slow battery ran
    # concurrently (round-7 flake). 2M rows keeps every workload
    # spilling at this heap with margin on both sides.
    env.update(
        SPARK_GRAFT_SPILL_ROWS="2000000",
        SPARK_GRAFT_SPILL_TIGHT="768m",
        SPARK_GRAFT_SPILL_ROOMY="4g",
    )
    tool = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "tools",
        "spill_study.py",
    )
    proc = _sp.run(
        [_sys.executable, tool],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    rec = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["results_identical"] is True
    for w in ("agg_highcard", "join_sortmerge"):
        assert rec["workloads"][w]["disk_spilled_tight_mb"] > 0, (w, rec)
        assert rec["workloads"][w]["disk_spilled_roomy_mb"] == 0, (w, rec)


# ---- wave H stress parity at ~sf1 (round 8) -------------------------


def test_hurst_rs_integer_headroom_10x(spark, duck_big, big_dir):
    """The n-scaled cumulative deviations at 10x: z-magnitudes grow
    ~100x (n and per-day counts both 10x) — int64 headroom must hold
    and the one float division still hash-matches."""
    oracle_parity_10x(spark, duck_big, big_dir, "ts_hurst_rs_daily")


def test_variance_ratio_128bit_10x(spark, duck_big, big_dir):
    """The 128-bit difference-square accumulation at 10x volume: the
    scaled variances pass through DECIMAL(38,0)/HUGEINT and the div-1e6
    descaled grades stay exact."""
    oracle_parity_10x(spark, duck_big, big_dir, "ts_variance_ratio_test")


def test_t_closeness_emd_10x(spark, duck_big, big_dir):
    """Cross-multiplied cumulative EMD at 10x orders: cum*N products
    reach ~1e12 x 1e4 bp scaling — exact-int headroom and the densified
    seg x band grid both survive."""
    oracle_parity_10x(spark, duck_big, big_dir, "gov_t_closeness_audit")


def test_mode_sliding_fold_10x(spark, duck_big, big_dir):
    """The run-length mode fold over ~1M 5-row frames: per-row constant
    work, and the lexicographic tie-break stays deterministic across
    the 10x layout."""
    oracle_parity_10x(spark, duck_big, big_dir, "win_mode_sliding")


def test_rake_phrase_islands_10x(spark, duck_big, big_dir):
    """Gaps-and-islands phrase extraction over the 10x corpus: island
    ids stay doc-local and the top-10 tie-break (count desc, phrase)
    is total, so the ranking hash-matches."""
    oracle_parity_10x(spark, duck_big, big_dir, "text_rake_keyword_lite")


@pytest.mark.slow
def test_concurrent_submission_pipelines_the_dispatch_floor():
    """The serial bench pays the full per-query dispatch floor end to
    end; a serving/cluster deployment submits queries concurrently and
    the floor components overlap (BASELINE round-9 study: 5.7x
    pipelining at sf0.1, concurrent suite makespan within 2x of
    DuckDB's). Pin the property, not the machine: concurrent makespan
    must beat serial by >2x with identical per-query row counts.
    Subprocess-isolated (the study mutates session confs)."""
    import json as _json
    import os as _os
    import subprocess as _sp
    import sys as _sys


    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    out = _sp.run(
        [
            _sys.executable,
            _os.path.join(root, "tools", "concurrency_study.py"),
            "--sf",
            "/root/testdata/sf0.01",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=root,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = _json.loads(out.stdout.strip().splitlines()[-1])
    # Row-count equality is the hard CORRECTNESS check and runs at any
    # core count — only the timing-factor assertions below are gated,
    # because they measure machine behavior (round-10 ADVICE + review).
    assert result["rowcounts_equal"], result["mismatched"]
    if (_os.cpu_count() or 0) < 8:
        pytest.skip(
            "row counts verified; pipelining factors need >= 8 cores"
        )
    # At sf0.01 every query is floor-dominated, so pipelining is at its
    # strongest — a factor this low would mean submission no longer
    # overlaps at all (the regression this test exists to catch).
    # 1.2x (not the typical ~4-5x) so a busy CI host cannot flake the
    # suite; a true overlap regression reads ~1.0x. The measured factor
    # is emitted as a warning (round-10 ADVICE: the loose CI floor must
    # not silently hide a PARTIAL regression, e.g. 4x -> 1.5x), so the
    # pytest warning summary carries the number every run; the bench
    # artifact record lives in BASELINE.md's concurrency-study JSON.
    import warnings as _warnings

    _warnings.warn(
        "concurrency pipelining_factor="
        f"{result['pipelining_factor']} (duckdb "
        f"{result['duckdb_pipelining_factor']}); typical ~4-5x, CI "
        "floor 1.2x",
        stacklevel=1,
    )
    assert result["pipelining_factor"] > 1.2, result
    # DuckDB's side must have run the FULL suite with sane results —
    # an engine whose concurrent makespan beats a 32-core serial pass
    # by 10x would mean the comparison harness broke, not the engine.
    assert 0.2 < result["duckdb_pipelining_factor"] < 10.0, result
