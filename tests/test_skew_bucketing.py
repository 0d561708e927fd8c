"""Scale toolkit: salted joins and bucketed co-located joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_salted_join_matches_plain_join(spark):
    from aroa_etl_spark.operators.skew import salted_join

    # skewed large side: key 1 carries 80% of rows
    large = spark.range(1000).select(
        F.when(F.col("id") < 800, 1).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(50)], ["k", "name"])

    for how in ("inner", "left"):
        plain = large.join(small, "k", how).orderBy("payload")
        salted = salted_join(large, small, "k", salt=8, how=how).orderBy("payload")
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    with pytest.raises(ValueError):
        salted_join(large, small, "k", how="full")


def test_salted_join_spreads_hot_key(spark):
    from aroa_etl_spark.operators.skew import salted_join, top_keys

    large = spark.range(1000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(1, "x")], ["k", "name"])
    hot = top_keys(large, "k", 1).collect()[0]
    assert hot["k"] == 1 and hot["cnt"] == 1000
    out = salted_join(large, small, "k", salt=8)
    # the join key (k, __salt) takes 8 distinct values for the hot key
    salts = large.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in large.columns]), F.lit(8))
    ).select("__salt").distinct().count()
    assert salts == 8
    assert out.count() == 1000


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from aroa_etl_spark.sources.io import write_bucketed

    import shutil

    for t in ("bt_orders", "bt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a previously-failed run can leave orphan warehouse files the
        # metastore no longer knows about
        shutil.rmtree(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            + f"/{t}",
            ignore_errors=True,
        )
    orders = spark.range(1000).select(F.col("id").alias("okey"), (F.col("id") % 7).alias("flag"))
    items = spark.range(3000).select((F.col("id") % 1000).alias("okey"), F.col("id").alias("line"))
    write_bucketed(orders, "bt_orders", bucket_by=["okey"], num_buckets=8)
    write_bucketed(items, "bt_lineitem", bucket_by=["okey"], num_buckets=8)

    # force the sort-merge path (tiny test tables would broadcast and
    # bypass bucketed scans entirely); at real fact-to-fact scale SMJ is
    # what the planner picks on its own
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.table("bt_orders"), spark.table("bt_lineitem")
        joined = a.join(b, "okey")
        # both sides bucketed on the join key with equal counts → the
        # sort-merge join reads bucket files directly, zero shuffle
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 3000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


# ---- salted HANDLING of hot blocks/buckets ---------------------------------


def _pairs(df):
    return sorted(map(tuple, df.collect()))


def test_salted_hot_join_identical_with_planted_skew(spark):
    """One key holds 20% of BOTH sides: salted_hot_join must return the
    exact plain-join row set while spreading the hot key's work."""
    from aroa_etl_spark.operators.skew import salted_hot_join, top_keys

    a = spark.range(500).select(
        F.when(F.col("id") < 100, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 40).cast("string"))
        ).alias("k"),
        F.col("id").alias("va"),
    )
    b = spark.range(400).select(
        F.when(F.col("id") < 80, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 40).cast("string"))
        ).alias("k"),
        F.col("id").alias("vb"),
    )
    hot = top_keys(a, "k", 1).select("k")
    assert hot.collect()[0]["k"] == "hot"
    salted = salted_hot_join(a, b, "k", hot, salt=8)
    plain = a.join(b, "k")
    assert _pairs(salted.select("k", "va", "vb")) == _pairs(plain.select("k", "va", "vb"))
    # the salted path engaged: the plan carries the internal salt column
    assert "__salt" in salted._jdf.queryExecution().toString()


def _skewed_docs(spark):
    """600 docs; 120 (20%) share one boilerplate text → one degenerate
    LSH bucket per band holds 20% of rows."""
    import pandas as pd

    rows = []
    for i in range(600):
        if i < 120:
            text = "the quick brown fox jumps over the lazy dog again and again"
        else:
            text = f"unique document number {i} talks about topic {i % 37} in depth {i * 7}"
        rows.append((i, text))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_minhash_salt_mode_matches_unbounded(spark):
    """hot_bucket_mode='salt' with a tiny max_bucket_size must produce the
    EXACT pair-set of max_bucket_size=None (drop mode loses the planted
    boilerplate pairs — proving the hot path engaged)."""
    from aroa_etl_spark.operators.dedup import minhash_lsh_dedup, release_caches

    docs = _skewed_docs(spark)
    kw = dict(num_perm=8, bands=4, shingle_n=3, threshold=0.7)
    unbounded = _pairs(minhash_lsh_dedup(docs, **kw, max_bucket_size=None))
    salted = _pairs(
        minhash_lsh_dedup(
            docs, **kw, max_bucket_size=50, hot_bucket_mode="salt", hot_salt=8
        )
    )
    dropped = _pairs(
        minhash_lsh_dedup(
            docs, **kw, max_bucket_size=50, hot_bucket_mode="drop"
        )
    )
    # salt is the DEFAULT: an unqualified call with a cap must behave
    # like the unbounded pair-set
    default_mode = _pairs(minhash_lsh_dedup(docs, **kw, max_bucket_size=50))
    release_caches()
    assert salted == unbounded
    assert default_mode == unbounded
    assert len(unbounded) >= 120 * 119 // 2  # boilerplate pairs present
    assert len(dropped) < len(unbounded)  # drop mode really drops them

    with pytest.raises(ValueError, match="hot_bucket_mode"):
        minhash_lsh_dedup(docs, **kw, hot_bucket_mode="explode")


def test_person_matching_hot_block_salted(spark):
    """Planted hot surname block (20% of rows share 'mueller' prefix +
    length band): the salted candidate join must give the identical
    match table."""
    import pandas as pd

    from aroa_etl_spark.operators.matching import person_matching

    rows = []
    for i in range(200):
        if i < 40:
            g, l = f"hans{i % 5}", "mueller"  # hot block
        else:
            g, l = f"gname{i}", f"lname{i % 60}"
        rows.append((i, g, l))
    pdf = pd.DataFrame(rows, columns=["pid", "g", "l"])
    src = spark.createDataFrame(pdf.rename(columns={"pid": "srcID"}))
    trg = spark.createDataFrame(pdf.rename(columns={"pid": "trgID"}))
    kw = dict(
        src_id="srcID", target_id="trgID",
        src_gname_col="g", src_lname_col="l",
        src_date_col=None, src_prisoner_number=None, src_birthplace=None,
        target_gname_col="g", target_lname_col="l",
        name_only=True, top_n_matches=2,
    )
    plain = person_matching(src, trg, **kw)
    salted = person_matching(src, trg, **kw, hot_block_threshold=10, hot_salt=8)
    assert "__salt" in salted._jdf.queryExecution().toString()
    assert _pairs(plain) == _pairs(salted)


def test_ngram_jaccard_salt_mode_matches_unbounded(spark):
    """ngram_jaccard_pairs (winnowing path) gains the same hot-bucket
    salt policy as minhash: salt == unbounded pair-set, drop loses the
    boilerplate pairs."""
    from aroa_etl_spark.operators.dedup import ngram_jaccard_pairs, release_caches

    docs = _skewed_docs(spark)
    kw = dict(n=3, threshold=0.5, winnow_window=4)
    unbounded = _pairs(ngram_jaccard_pairs(docs, **kw, max_bucket_size=None))
    salted = _pairs(ngram_jaccard_pairs(
        docs, **kw, max_bucket_size=50, hot_bucket_mode="salt", hot_salt=8))
    dropped = _pairs(ngram_jaccard_pairs(
        docs, **kw, max_bucket_size=50, hot_bucket_mode="drop"))
    default_mode = _pairs(ngram_jaccard_pairs(docs, **kw, max_bucket_size=50))
    release_caches()
    assert salted == unbounded
    assert default_mode == unbounded  # salt is the default
    assert len(dropped) < len(unbounded)

    with pytest.raises(ValueError, match="hot_bucket_mode"):
        ngram_jaccard_pairs(docs, hot_bucket_mode="explode")


def test_minhash_incremental_hot_bucket_policy(spark):
    """minhash_lsh_incremental carries the hot-bucket policy: salt
    (default) == unbounded pair-set on a planted hot INDEX bucket; drop
    loses the new-x-index boilerplate pairs."""
    from aroa_etl_spark.operators.dedup import (
        minhash_lsh_incremental,
        release_caches,
    )

    docs = _skewed_docs(spark)
    new = docs.filter(F.col("doc_id") < 100)
    idx = docs.filter(F.col("doc_id") >= 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    kw = dict(num_perm=8, bands=4, shingle_n=3, threshold=0.7)
    unbounded = _pairs(minhash_lsh_incremental(new, idx, **kw, max_bucket_size=None))
    default_mode = _pairs(minhash_lsh_incremental(new, idx, **kw, max_bucket_size=50))
    dropped = _pairs(
        minhash_lsh_incremental(
            new, idx, **kw, max_bucket_size=50, hot_bucket_mode="drop"
        )
    )
    release_caches()
    assert default_mode == unbounded  # salted path is pair-set-identical
    assert len(dropped) < len(unbounded)  # hot index bucket really dropped

    with pytest.raises(ValueError, match="hot_bucket_mode"):
        minhash_lsh_incremental(new, idx, hot_bucket_mode="explode")

    # the observation is wired on the incremental path too
    from pyspark.sql import Observation
    obs = Observation("inc_hot")
    minhash_lsh_incremental(
        new, idx, **kw, max_bucket_size=50, hot_bucket_mode="drop",
        observation=obs,
    ).count()
    release_caches()
    assert obs.get["hot_buckets"] >= 4  # one boilerplate bucket per band
    assert obs.get["hot_bucket_rows"] >= 4 * 100


def test_minhash_hot_bucket_observation_metric(spark):
    """The optional Observation reports hot_buckets / hot_bucket_rows
    after the first action — drop-mode recall loss is measurable, not
    silent."""
    from pyspark.sql import Observation

    from aroa_etl_spark.operators.dedup import minhash_lsh_dedup, release_caches

    docs = _skewed_docs(spark)
    kw = dict(num_perm=8, bands=4, shingle_n=3, threshold=0.7)
    obs = Observation("hot")
    out = minhash_lsh_dedup(
        docs, **kw, max_bucket_size=50, hot_bucket_mode="drop", observation=obs
    )
    out.count()  # first action materializes the observed aggregation
    m = obs.get
    release_caches()
    # 120 boilerplate docs share one bucket per band (4 bands of >50 rows)
    assert m["hot_buckets"] >= 4
    assert m["hot_bucket_rows"] >= 4 * 120

    # SALT mode must report the FULL metric too: the empty-hot fast
    # path's take(1) probe is disabled under an Observation, otherwise
    # the probe's short-circuited first action would freeze partial
    # values (an Observation keeps its first action's values)
    obs_salt = Observation("hot_salt")
    minhash_lsh_dedup(
        docs, **kw, max_bucket_size=50, hot_bucket_mode="salt", hot_salt=8,
        observation=obs_salt,
    ).count()
    m2 = obs_salt.get
    release_caches()
    assert m2["hot_buckets"] >= 4
    assert m2["hot_bucket_rows"] >= 4 * 120

    # no hot buckets -> zeros, not NULLs
    small = _skewed_docs(spark).filter(F.col("doc_id") >= 120)
    obs2 = Observation("cold")
    minhash_lsh_dedup(
        small, **kw, max_bucket_size=1000, hot_bucket_mode="drop", observation=obs2
    ).count()
    release_caches()
    assert obs2.get["hot_buckets"] == 0

    # ngram winnowing path: the observation must be attached there too,
    # not just accepted as a parameter
    obs3 = Observation("ngram_hot")
    from aroa_etl_spark.operators.dedup import ngram_jaccard_pairs
    ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, winnow_window=4, max_bucket_size=50,
        hot_bucket_mode="drop", observation=obs3,
    ).count()
    release_caches()
    assert obs3.get["hot_buckets"] >= 1
    assert obs3.get["hot_bucket_rows"] >= 120


def test_simhash_hot_bucket_policy(spark):
    """The uniform hot-bucket policy on the simhash path:
    a planted boilerplate pile (identical text -> identical simhash ->
    one bucket per band over the cap) salts by default with a pair-set
    identical to no cap, drops measurably in drop mode, and reports
    the metric through an Observation."""
    from pyspark.sql import Observation

    from aroa_etl_spark.operators.dedup import release_caches, simhash_dedup

    boiler = [(i, "lorem ipsum dolor sit amet boilerplate page") for i in range(60)]
    uniq = [(100 + i, f"document number {i} about topic {i * 17}") for i in range(20)]
    docs = spark.createDataFrame(boiler + uniq, "doc_id long, text string")

    def pairset(df):
        return {(r.id_a, r.id_b) for r in df.collect()}

    unbounded = pairset(simhash_dedup(docs, max_bucket_size=None))
    release_caches()
    salted = pairset(simhash_dedup(docs, max_bucket_size=30, hot_salt=4))
    release_caches()
    assert salted == unbounded  # salt default is pair-set-identical
    assert len(unbounded) >= 60 * 59 // 2  # the boilerplate clique is real

    dropped = pairset(
        simhash_dedup(docs, max_bucket_size=30, hot_bucket_mode="drop")
    )
    release_caches()
    assert len(dropped) < len(unbounded)

    obs = Observation("simhash_hot")
    simhash_dedup(
        docs, max_bucket_size=30, hot_bucket_mode="salt", hot_salt=4,
        observation=obs,
    ).count()
    release_caches()
    # 60 boilerplate rows share one bucket in each of the 4 bands
    assert obs.get["hot_buckets"] >= 4
    assert obs.get["hot_bucket_rows"] >= 4 * 60

    with pytest.raises(ValueError, match="hot_bucket_mode"):
        simhash_dedup(docs, hot_bucket_mode="explode")


def test_embedding_hot_bucket_policy(spark):
    """Same policy on the sign-LSH embedding path: a constant-embedding
    pile (one sign bucket over the cap) salts pair-set-identically,
    drop mode loses its pairs, and the Observation reports the size."""
    from pyspark.sql import Observation

    from aroa_etl_spark.operators.dedup import embedding_neardup_pairs

    pile = [(i, [1.0] * 8 + [float(i % 3) / 10]) for i in range(50)]
    spread = [
        (100 + i, [(-1.0) ** (i >> b) for b in range(8)] + [0.5])
        for i in range(12)
    ]
    df = spark.createDataFrame(pile + spread, "vec_id long, embedding array<double>")
    kw = dict(sign_dims=8, n_bands=1, threshold=0.99)

    def pairset(frame):
        return {(r.id_a, r.id_b) for r in frame.collect()}

    unbounded = pairset(embedding_neardup_pairs(df, **kw, max_bucket_size=None))
    salted = pairset(
        embedding_neardup_pairs(df, **kw, max_bucket_size=20, hot_salt=4)
    )
    assert salted == unbounded
    assert len(unbounded) >= 50 * 49 // 2  # the constant pile all matches

    dropped = pairset(
        embedding_neardup_pairs(
            df, **kw, max_bucket_size=20, hot_bucket_mode="drop"
        )
    )
    assert len(dropped) < len(unbounded)

    obs = Observation("emb_hot")
    embedding_neardup_pairs(
        df, **kw, max_bucket_size=20, observation=obs
    ).count()
    assert obs.get["hot_buckets"] >= 1
    assert obs.get["hot_bucket_rows"] >= 50

    with pytest.raises(ValueError, match="hot_bucket_mode"):
        embedding_neardup_pairs(df, **kw, hot_bucket_mode="explode")


def test_drop_mode_observation_all_banded_paths(spark):
    """Drop mode + Observation must not multi-reference the observed
    size subplan (CollectMetrics corruption — obs.get threw toPyRow
    assertions on the simhash path, and survival elsewhere depended on
    exchange reuse).  The banded paths route through _hot_buckets
    (eager barrier + count), so drop+Observation must yield complete
    metrics AND the same pairs as drop without one."""
    from pyspark.sql import Observation

    from aroa_etl_spark.operators.dedup import (
        embedding_neardup_pairs,
        minhash_lsh_dedup,
        ngram_jaccard_pairs,
        release_caches,
        simhash_dedup,
    )

    docs = _skewed_docs(spark)

    def pairs(df):
        return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}

    for name, run in (
        ("minhash", lambda obs: minhash_lsh_dedup(
            docs, num_perm=8, bands=4, shingle_n=3, threshold=0.7,
            max_bucket_size=50, hot_bucket_mode="drop", observation=obs)),
        ("simhash", lambda obs: simhash_dedup(
            docs, max_bucket_size=50, hot_bucket_mode="drop", observation=obs)),
        ("ngram", lambda obs: ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, winnow_window=4,
            max_bucket_size=50, hot_bucket_mode="drop", observation=obs)),
    ):
        obs = Observation(f"drop_{name}")
        observed = pairs(run(obs))
        m = obs.get  # must not raise, must be complete
        release_caches()
        plain = pairs(run(None))
        release_caches()
        assert observed == plain, name
        assert m["hot_buckets"] >= 1, name
        assert m["hot_bucket_rows"] > 50, name

    emb = spark.createDataFrame(
        [(i, [1.0] * 8 + [float(i % 3) / 10]) for i in range(50)]
        + [(100 + i, [(-1.0) ** (i >> b) for b in range(8)] + [0.5])
           for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    obs = Observation("drop_emb")
    got = pairs(embedding_neardup_pairs(
        emb, sign_dims=8, n_bands=1, threshold=0.99,
        max_bucket_size=20, hot_bucket_mode="drop", observation=obs))
    m = obs.get
    plain = pairs(embedding_neardup_pairs(
        emb, sign_dims=8, n_bands=1, threshold=0.99,
        max_bucket_size=20, hot_bucket_mode="drop"))
    assert got == plain
    assert m["hot_buckets"] >= 1 and m["hot_bucket_rows"] >= 50


def _skewed_block_docs(spark):
    """300 docs in ONE block; 120 (40%) share one boilerplate text, so
    every boilerplate shingle's (block, shingle) posting list holds 120
    rows — hot under any cap <= 119."""
    import pandas as pd

    rows = []
    for i in range(300):
        if i < 120:
            text = "the quick brown fox jumps over the lazy dog again and again"
        else:
            text = f"unique document number {i} talks about topic {i % 37} in depth {i * 7}"
        rows.append((i, text, "s0"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )


def test_containment_salt_mode_matches_unbounded(spark):
    """ngram_containment_pairs carries the shared hot-(block, shingle)
    policy. salt (the default) must produce the
    EXACT result rows of max_bucket_size=None — counts and containment
    values included, not just the pair-set — while drop loses the
    planted boilerplate pairs (proving the hot path really engaged)."""
    from aroa_etl_spark.operators.dedup import (
        ngram_containment_pairs,
        release_caches,
    )

    docs = _skewed_block_docs(spark)
    kw = dict(n=3, threshold_pct=80, block_col="source")
    unbounded = _pairs(ngram_containment_pairs(docs, **kw, max_bucket_size=None))
    salted_df = ngram_containment_pairs(
        docs, **kw, max_bucket_size=50, hot_bucket_mode="salt", hot_salt=8
    )
    # the salted split engaged — the plan carries the internal salt column
    assert "__salt" in salted_df._jdf.queryExecution().toString()
    salted = _pairs(salted_df)
    dropped = _pairs(
        ngram_containment_pairs(docs, **kw, max_bucket_size=50, hot_bucket_mode="drop")
    )
    default_mode = _pairs(ngram_containment_pairs(docs, **kw, max_bucket_size=50))
    release_caches()
    assert salted == unbounded
    assert default_mode == unbounded  # salt is the default
    assert len(unbounded) >= 120 * 119 // 2  # boilerplate pairs present
    assert len(dropped) < len(unbounded)  # drop mode really drops them

    with pytest.raises(ValueError, match="hot_bucket_mode"):
        ngram_containment_pairs(docs, **kw, hot_bucket_mode="explode")


def test_ngram_jaccard_blocked_salt_mode_matches_unbounded(spark):
    """The blocked inverted-index path had the same structural hole as
    containment (uncapped (block, shingle) self-join); both route
    through _inverted_index_intersections: salt == unbounded
    result rows, drop loses the boilerplate pairs."""
    from aroa_etl_spark.operators.dedup import ngram_jaccard_pairs, release_caches

    docs = _skewed_block_docs(spark)
    kw = dict(n=3, threshold=0.5, block_col="source")
    unbounded = _pairs(ngram_jaccard_pairs(docs, **kw, max_bucket_size=None))
    salted_df = ngram_jaccard_pairs(docs, **kw, max_bucket_size=50, hot_salt=8)
    assert "__salt" in salted_df._jdf.queryExecution().toString()
    salted = _pairs(salted_df)
    dropped = _pairs(
        ngram_jaccard_pairs(docs, **kw, max_bucket_size=50, hot_bucket_mode="drop")
    )
    release_caches()
    assert salted == unbounded
    assert len(unbounded) >= 120 * 119 // 2
    assert len(dropped) < len(unbounded)


def test_ngram_jaccard_blocked_threshold_zero_honours_the_cap(spark):
    """At ``threshold == 0`` the blocked path joins on the block alone
    (zero-overlap pairs must appear), and that per-block cross product
    follows the same hot-bucket policy: the 300-doc block is hot under
    a cap of 50, salt mode keeps every one of its 300·299/2 pairs, drop
    mode loses them all, and the Observation counts the one hot block."""
    from pyspark.sql import Observation

    from aroa_etl_spark.operators.dedup import ngram_jaccard_pairs, release_caches

    docs = _skewed_block_docs(spark)
    kw = dict(n=3, threshold=0, block_col="source")
    try:
        unbounded = _pairs(ngram_jaccard_pairs(docs, **kw, max_bucket_size=None))
        salted_df = ngram_jaccard_pairs(docs, **kw, max_bucket_size=50, hot_salt=8)
        assert "__salt" in salted_df._jdf.queryExecution().toString()
        salted = _pairs(salted_df)
        obs = Observation("block_hot")
        dropped = _pairs(ngram_jaccard_pairs(
            docs, **kw, max_bucket_size=50, hot_bucket_mode="drop", observation=obs))
        m = obs.get
    finally:
        release_caches()
    assert len(unbounded) == 300 * 299 // 2
    assert salted == unbounded
    assert dropped == []
    assert m["hot_buckets"] == 1 and m["hot_bucket_rows"] == 300


def _hot_bucket_operators():
    """The six candidate joins under the shared hot-bucket policy, each
    as ``run(docs, **cap_kwargs)`` over the first 240 of
    :func:`_skewed_docs` (its 120 boilerplate docs form one bucket of
    >= 120 rows per band/key)."""
    from aroa_etl_spark.operators import dedup

    def incremental(docs, **kw):
        new = docs.filter(F.col("doc_id") < 100)
        idx = docs.filter(F.col("doc_id") >= 100).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        return dedup.minhash_lsh_incremental(new, idx, **kw)

    def embedding(docs, **kw):
        # boilerplate docs share one all-positive sign bucket; the rest
        # spread over the doc id's low bits (<= 2 per bucket)
        vec = F.array(*[
            F.when(F.col("doc_id") < 120, F.lit(1.0)).otherwise(
                F.shiftright(F.col("doc_id"), b).bitwiseAND(F.lit(1)) * 2.0 - 1.0
            )
            for b in range(8)
        ])
        return dedup.embedding_neardup_pairs(
            docs.select(F.col("doc_id").alias("vec_id"), vec.alias("embedding")),
            sign_dims=8, threshold=0.99, **kw,
        )

    return {
        "minhash": lambda docs, **kw: dedup.minhash_lsh_dedup(docs, **kw),
        "minhash_incremental": incremental,
        "ngram_winnowing": lambda docs, **kw: dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, winnow_window=4, **kw),
        # 16-bit hashes: a quarter of the default's vote columns, the
        # same band join
        "simhash": lambda docs, **kw: dedup.simhash_dedup(docs, hash_bits=16, **kw),
        "embedding": embedding,
        "containment_inverted_index": lambda docs, **kw: dedup.ngram_containment_pairs(
            docs.withColumn("source", F.lit("s0")), n=3, threshold_pct=80,
            block_col="source", **kw),
    }


@pytest.mark.parametrize("op", sorted(_hot_bucket_operators()))
def test_hot_bucket_policy_keeps_the_plain_join_fast_path(spark, op):
    """A corpus with no bucket over ``max_bucket_size`` takes the plain
    equi-join (no salted split in the plan); a planted hot bucket in
    salt mode takes the salted join."""
    from aroa_etl_spark.operators.dedup import release_caches

    run = _hot_bucket_operators()[op]
    docs = _skewed_docs(spark).filter(F.col("doc_id") < 240)
    try:
        cold = run(docs, max_bucket_size=1000)
        assert "__salt" not in cold._jdf.queryExecution().toString()
        hot = run(docs, max_bucket_size=50, hot_bucket_mode="salt", hot_salt=4)
        assert "__salt" in hot._jdf.queryExecution().toString()
    finally:
        release_caches()


def test_invalid_hot_bucket_mode_caches_nothing(spark):
    """An unknown ``hot_bucket_mode`` is rejected before the operator
    persists any barrier frame, so nothing is left for
    ``release_caches`` to find."""
    from aroa_etl_spark.operators import dedup

    docs = _skewed_docs(spark)
    before = list(dedup._CACHED_FRAMES)
    for op, run in sorted(_hot_bucket_operators().items()):
        with pytest.raises(ValueError, match="hot_bucket_mode"):
            run(docs, hot_bucket_mode="explode")
        assert dedup._CACHED_FRAMES == before, op
