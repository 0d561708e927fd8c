"""The benchmark pipelines, their output checks and quality scores.

Each workload generates its inputs into ``<work>/in`` (setup), then runs
its stages; every stage reads files, calls public ``sources`` /
``operators`` functions (``build``) and writes parquet (``write``) that
the next stage reads.  Checks and scoring read the written outputs back.
"""

from __future__ import annotations

import os
import re
from itertools import combinations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import gen


def _pair_f1(pred: set, truth: set) -> float:
    hit = len(pred & truth)
    if not pred and not truth:
        return 1.0
    p = hit / len(pred) if pred else 0.0
    r = hit / len(truth) if truth else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


class Workload:
    """``stages`` is a list of ``(span name, build(spark, work) -> DataFrame,
    output directory name)``."""

    name = ""
    stages: list = []

    def __init__(self, size: int):
        self.size = size
        self.records = 0

    def generate(self, spark: SparkSession, seed: int, in_dir: str) -> None:
        raise NotImplementedError

    def check(self, spark: SparkSession, out_dir: str) -> list[tuple[str, str]]:
        """Cheap structural checks; returns ``(stage, check)`` for each
        failed one."""
        raise NotImplementedError

    def quality(self, spark: SparkSession, out_dir: str) -> float:
        raise NotImplementedError

    def counters(self, spark: SparkSession, work: str) -> dict[str, float]:
        """Ratios and counts for the traced run, from public calls."""
        return {}


# ---------------------------------------------------------------------------
# enc_consensus
# ---------------------------------------------------------------------------

def _unpack(spark, work):
    from aroa_etl_spark.sources.unpacking import unpack

    raw = spark.read.parquet(f"{work}/in/raw")
    return unpack(raw, "json_data",
                  additional_splits_on=lambda col: re.search(r"category", col))


def _attributes(spark, work):
    from aroa_etl_spark.operators.attributes import process_unpacked_data

    return process_unpacked_data(
        spark.read.parquet(f"{work}/out/unpacked"),
        skip_columns=["row_id", "workflow_id", "document_id"],
    )


ENC_PERSON = re.compile(r"^(first_name_cleaned_[01]|last_name_cleaned_0)$")
ENC_DATE = re.compile(r"^(birthdate|imprisonment)_(day|month|year)_cleaned$")
ENC_OTHER = re.compile(r"^(imprisonment_camp_cleaned|place_of_birth(_\d+)?_cleaned)$")
ENC_STRICT = re.compile(r"^(prisoner_category(_\d+)?_cleaned|prisoner_number_trim_1)$")


def _consensus(spark, work):
    from aroa_etl_spark.operators.consensus import ENCDeduplicater

    df = spark.read.parquet(f"{work}/out/attributes")
    pick = lambda rx: [c for c in df.columns if rx.match(c)]  # noqa: E731
    return (
        ENCDeduplicater(df, "document_id", metadata_columns=["workflow_id"])
        .on_person_cols(pick(ENC_PERSON))
        .on_date_cols(pick(ENC_DATE))
        .on_other_cols(pick(ENC_OTHER))
        .on_other_strict_cols(pick(ENC_STRICT))
        .run()
    )


# person resolution over the consensus rows: production parameters
MATCH_ARGS = dict(
    src_id="srcID", target_id="trgID",
    trg_pre_clustering_on_n_chars=2, trg_pre_clustering_group_n_len_units=4,
    top_n_matches=10, min_match_score=80.0,
)
CLUSTER_ARGS = dict(id_col="person_id", cutoff=85.0)


def _fold(name: str):
    """Spark twin of ``gen.fold``: lower case, umlauts spelled out."""
    c = F.lower(F.trim(F.col(name)))
    for umlaut, spelled in (("ä", "ae"), ("ö", "oe"), ("ü", "ue"), ("ß", "ss")):
        c = F.regexp_replace(c, umlaut, spelled)
    return c


def _mentions(spark, work):
    """One person mention per consensus row, in the register's schema;
    document ``do_<seed>_<d>`` is mention ``d``."""
    return (
        spark.read.parquet(f"{work}/out/consensus").filter(~F.col("deleted"))
        .select(
            F.substring_index("document_id", "_", -1).cast("long").alias("person_id"),
            _fold("first_name_cleaned_0").alias("strGName_processed"),
            _fold("last_name_cleaned_0").alias("strLName_processed"),
            F.concat("birthdate_year_cleaned", "birthdate_month_cleaned",
                     "birthdate_day_cleaned").alias("strDoB_processed"),
            F.col("prisoner_number_trim_1").alias("prisoner_number"),
            _fold("place_of_birth_0_cleaned").alias("strPoB_processed"),
        )
    )


def _all_mentions(spark, work):
    """The consensus mentions and the register cards, for clustering."""
    return _mentions(spark, work).unionByName(spark.read.parquet(f"{work}/in/register"))


def _matching(spark, work):
    from aroa_etl_spark.operators.matching import person_matching

    return person_matching(
        _mentions(spark, work).withColumnRenamed("person_id", "srcID"),
        spark.read.parquet(f"{work}/in/register").withColumnRenamed("person_id", "trgID"),
        **MATCH_ARGS,
    )


def _clustering(spark, work):
    from aroa_etl_spark.operators.clustering import person_clustering

    return person_clustering(_all_mentions(spark, work), **CLUSTER_ARGS)


class EncConsensus(Workload):
    """The three ENC stages, then person resolution of the consensus
    rows against a register: ``matching`` (top-10 register cards per
    document) and ``clustering`` (documents and cards into persons)."""

    name = "enc_consensus"
    stages = [("unpacking", _unpack, "unpacked"),
              ("attributes", _attributes, "attributes"),
              ("consensus", _consensus, "consensus"),
              ("matching", _matching, "matches"),
              ("clustering", _clustering, "entities")]

    def generate(self, spark, seed, in_dir):
        import pyarrow as pa
        import pyarrow.parquet as pq

        data = gen.gen_enc(seed, self.size)
        self.truth = data.truth
        self.data = data
        self.records = len(data.rows)
        cols = list(zip(*data.rows))
        table = pa.table({
            "row_id": pa.array(cols[0], pa.int64()),
            "workflow_id": pa.array(cols[1], pa.string()),
            "document_id": pa.array(cols[2], pa.string()),
            "json_data": pa.array(cols[3], pa.string()),
        })
        os.makedirs(f"{in_dir}/raw", exist_ok=True)
        # several files so the scan starts one task per core
        step = -(-len(data.rows) // 8)
        for i in range(8):
            pq.write_table(table.slice(i * step, step), f"{in_dir}/raw/part-{i}.parquet")
        cols = list(zip(*data.register))
        register = pa.table({
            "person_id": pa.array(cols[0], pa.int64()),
            **{c: pa.array(cols[2 + i], pa.string()) for i, c in enumerate(gen.PERSON_COLS)},
        })
        os.makedirs(f"{in_dir}/register", exist_ok=True)
        step = -(-len(data.register) // 4)
        for i in range(4):
            pq.write_table(register.slice(i * step, step),
                           f"{in_dir}/register/part-{i}.parquet")

    def check(self, spark, out_dir):
        failed = []
        out = spark.read.parquet(f"{out_dir}/consensus")
        row = out.agg(
            F.sum(F.when(~F.col("deleted"), 1).otherwise(0)).alias("consensus"),
            F.countDistinct(F.when(~F.col("deleted"), F.col("document_id"))).alias("docs"),
            F.sum(F.when(F.col("deleted"), 1).otherwise(0)).alias("raw"),
        ).first()
        if row["consensus"] != len(self.truth) or row["docs"] != len(self.truth):
            failed.append(("consensus", "one consensus row per document"))
        if row["raw"] != self.records:
            failed.append(("consensus", "every raw row marked deleted"))
        m = spark.read.parquet(f"{out_dir}/matches")
        row = m.groupBy("srcID").count().agg(
            F.max("count").alias("per_src"), F.count(F.lit(1)).alias("srcs")).first()
        bad = m.filter(
            ~((F.col("score").between(80.0, 100.0) & F.col("trgID").isNotNull())
              | ((F.col("score") == -1.0) & F.col("trgID").isNull()))
        ).count()
        if (row["per_src"] or 0) > 10 or bad or row["srcs"] != len(self.truth):
            failed.append(("matching",
                           "<= 10 matches per document, scores in [80, 100] or the -1 sentinel"))
        ent = spark.read.parquet(f"{out_dir}/entities")
        row = ent.agg(F.count(F.lit(1)).alias("n"),
                      F.countDistinct("person_id").alias("ids")).first()
        bad_root = (
            ent.groupBy("Person_Entity_ID")
            .agg(F.min("person_id").alias("m"))
            .filter(F.col("m") != F.col("Person_Entity_ID")).count()
        )
        mentions = len(self.truth) + len(self.data.register)
        if row["n"] != mentions or row["ids"] != mentions or bad_root:
            failed.append(("clustering",
                           "one entity per mention, equal to its component's minimum id"))
        return failed

    def quality(self, spark, out_dir):
        """Mean of the correct-consensus share, matching top-1 accuracy
        and clustering pairwise F1."""
        rows = (
            spark.read.parquet(f"{out_dir}/consensus").filter(~F.col("deleted"))
            .select("document_id", "last_name_cleaned_0", "first_name_cleaned_0",
                    "birthdate_year_cleaned", "birthdate_month_cleaned",
                    "birthdate_day_cleaned", "prisoner_number_trim_1")
            .collect()
        )
        ok = 0
        for r in rows:
            t = self.truth[r["document_id"]]
            ok += (
                gen.fold(r["last_name_cleaned_0"]) == gen.fold(t.last_name)
                and gen.fold(r["first_name_cleaned_0"]) == gen.fold(t.first_names[0])
                and (r["birthdate_year_cleaned"], r["birthdate_month_cleaned"],
                     r["birthdate_day_cleaned"]) == t.birth
                and r["prisoner_number_trim_1"] == t.prisoner_number
            )
        consensus = ok / len(self.truth)
        # matching: the top-1 card belongs to the document's person, or
        # there is no match for a person without a card
        carded = {e for _, e, *_ in self.data.register}
        top = {}
        for r in spark.read.parquet(f"{out_dir}/matches").collect():
            best = top.get(r["srcID"])
            key = (-r["score"], r["trgID"] if r["trgID"] is not None else -1)
            if best is None or key < best[0]:
                top[r["srcID"]] = (key, r["trgID"])
        hits = 0
        for d in range(len(self.truth)):
            trg = top.get(d, (None, None))[1]
            hits += self.data.entity_of.get(trg) == d if d in carded else trg is None
        matching = hits / len(self.truth)
        # clustering: pairwise F1 against the planted entities
        clusters: dict[int, list[int]] = {}
        for r in spark.read.parquet(f"{out_dir}/entities").select(
                "person_id", "Person_Entity_ID").collect():
            clusters.setdefault(r[1], []).append(r[0])
        pred = {p for ids in clusters.values() for p in combinations(sorted(ids), 2)}
        planted: dict[int, list[int]] = {}
        for pid, e in self.data.entity_of.items():
            planted.setdefault(e, []).append(pid)
        truth = {p for ids in planted.values() for p in combinations(sorted(ids), 2)}
        return (consensus + matching + _pair_f1(pred, truth)) / 3

    def counters(self, spark, work):
        from aroa_etl_spark.operators.clustering import similarity_edges
        from aroa_etl_spark.operators.matching import candidate_pairs, person_matching

        ambiguous = (
            spark.read.parquet(f"{work}/out/consensus").filter(~F.col("deleted"))
            .agg(F.avg(F.col("is_ambiguous").cast("double")).alias("a")).first()["a"]
        )
        src = _mentions(spark, work).withColumnRenamed("person_id", "srcID")
        trg = spark.read.parquet(f"{work}/in/register").withColumnRenamed("person_id", "trgID")
        cands = candidate_pairs(
            src, trg, "srcID", "trgID", "strGName_processed", "strLName_processed",
            "strGName_processed", "strLName_processed", n_chars=2, len_band=4,
        ).count()
        kept = (
            person_matching(src, trg, **{**MATCH_ARGS, "top_n_matches": 1 << 30})
            .filter(F.col("score") >= 80.0).count()
        )
        edges = similarity_edges(_all_mentions(spark, work), **CLUSTER_ARGS).count()
        entities = (spark.read.parquet(f"{work}/out/entities")
                    .select("Person_Entity_ID").distinct().count())
        return {
            "consensus.ambiguous_frac": ambiguous,
            "matching.candidate_pairs": cands,
            "matching.kept_frac": kept / cands if cands else 0.0,
            "clustering.edges": edges,
            "clustering.entities": entities,
        }


# ---------------------------------------------------------------------------
# scan_index
# ---------------------------------------------------------------------------

MINHASH_ARGS = dict(num_perm=8, bands=4, threshold=0.7)


def _decode(spark, work):
    from aroa_etl_spark.operators.multimodal import image_features
    from aroa_etl_spark.operators.pdfscan import extract_pdf_text
    from aroa_etl_spark.sources.tarfmt import assemble_webdataset_samples

    members = (spark.read.format("tar").option("payload", "true")
               .load(f"{work}/in/shards/*.tar"))
    samples = assemble_webdataset_samples(members, ["jpg", "pdf"], value_col="payload")
    media_id = F.col("sample_key").cast("long").alias("media_id")
    feats = image_features(
        samples.select(
            media_id, F.col("jpg").alias("content"),
            F.struct(F.lit("jpeg").alias("format")).alias("meta"),
        ),
        strict=True,
    )
    text = extract_pdf_text(
        samples.select(media_id, F.col("pdf").alias("content")), strict=True
    )
    return feats.join(text.filter(F.col("page_idx") == 0), "media_id")


def _neardup(spark, work):
    from aroa_etl_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{work}/out/scans").select(
        F.col("media_id").alias("doc_id"), "text")
    return minhash_lsh_dedup(docs, "doc_id", "text", **MINHASH_ARGS)


class ScanIndex(Workload):
    name = "scan_index"
    stages = [("decode", _decode, "scans"),
              ("neardup", _neardup, "pairs")]

    def generate(self, spark, seed, in_dir):
        from aroa_etl_spark.sources.tarfmt import write_webdataset_shards

        data = gen.gen_scan(seed, self.size)
        self.data = data
        self.records = self.size
        os.makedirs(f"{in_dir}/shards", exist_ok=True)
        members = spark.createDataFrame(
            data.members, "doc_id long, name string, content binary")
        write_webdataset_shards(members, f"{in_dir}/shards",
                                docs_per_shard=-(-len(data.members) // 8)).collect()

    def check(self, spark, out_dir):
        failed = []
        if spark.read.parquet(f"{out_dir}/scans").count() != self.size:
            failed.append(("decode", "one decoded row per sample"))
        if spark.read.parquet(f"{out_dir}/pairs").filter(
                ~(F.col("id_a") < F.col("id_b"))).count():
            failed.append(("neardup", "pair ids satisfy id_a < id_b"))
        return failed

    def quality(self, spark, out_dir):
        texts = spark.read.parquet(f"{out_dir}/scans").select("media_id", "text").collect()
        exact = sum(self.data.page_text.get(r[0]) == r[1] for r in texts) / self.size
        pred = {(r[0], r[1]) for r in
                spark.read.parquet(f"{out_dir}/pairs").select("id_a", "id_b").collect()}
        return (exact + _pair_f1(pred, self.data.dup_pairs)) / 2

    def counters(self, spark, work):
        from aroa_etl_spark.operators.dedup import minhash_lsh_dedup

        docs = spark.read.parquet(f"{work}/out/scans").select(
            F.col("media_id").alias("doc_id"), "text")
        cands = minhash_lsh_dedup(docs, "doc_id", "text",
                                  **{**MINHASH_ARGS, "threshold": 0.0}).count()
        verified = spark.read.parquet(f"{work}/out/pairs").count()
        return {"dedup.candidate_pairs": cands,
                "dedup.verified_frac": verified / cands if cands else 0.0}


WORKLOADS = {w.name: w for w in (EncConsensus, ScanIndex)}
