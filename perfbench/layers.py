"""The dedupe pipeline decomposed into per-layer calls, for traced runs.

``replay_pipeline`` performs the work of ``DedupePipeline.run`` by
calling each layer's public functions in the pipeline's order and
checkpointing each result, with a span around every call.  It also
times the parts the pipeline fuses: each blocking rule alone, the pair
join alone and each similarity feature alone.  Those split spans are
extra work that the untraced pipeline does not do; they are part of the
tracing overhead the traced run reports.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mismo_spark._util import sample_table, should_broadcast
from mismo_spark.cluster.cc import connected_components
from mismo_spark.compare.enum import compare
from mismo_spark.fs.em import em_from_sample
from mismo_spark.pipeline import DedupePipeline, pair_features
from mismo_spark.sets.compare import jaccard_distinct
from mismo_spark.text.similarity import jaro_winkler_similarity, levenshtein_ratio
from mismo_spark.types.linkage import ID_L, ID_R, Linkage

from tracing import Tracer

# the record columns DedupePipeline.run joins onto each candidate pair
PAIR_FEATURE_COLUMNS = (
    "record_id", "path", "prefix", "text_fp", "tok_hashes", "shingle_hashes"
)
# outputs that correspond to the pipeline's own stage checkpoints
STAGE_OUTPUTS = ("records", "links", "compared", "scored", "matches", "components", "cc_rounds")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _true_pairs_in(links: DataFrame, truth: DataFrame) -> int:
    lab = truth.select("record_id", "label_true")
    return (
        links.join(lab.toDF(ID_L, "lab_l"), ID_L)
        .join(lab.toDF(ID_R, "lab_r"), ID_R)
        .filter(F.col("lab_l") == F.col("lab_r"))
        .count()
    )


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def replay_pipeline(
    spark: SparkSession,
    tracer: Tracer,
    pipe: DedupePipeline,
    pages: DataFrame,
    truth: DataFrame,
    wd: Path,
) -> tuple[dict, set]:
    """→ (per-layer metrics, {(record_id, component)})."""

    def save(df: DataFrame, name: str) -> DataFrame:
        df.write.parquet(str(wd / name))
        return spark.read.parquet(str(wd / name))

    out: dict = {}
    with tracer.span("pipeline"):
        with tracer.span("records"):
            records = save(pipe.prepare_records(pages), "records")
        n_pages = records.count()

        blocker = pipe.blocker()
        with tracer.span("block"):
            links = save(blocker(records, records).links, "links")
        for rule in ("domain", "lsh"):
            with tracer.span(f"block.{rule}"):
                rule_links = save(
                    blocker.linkers[rule](records, records).links.select(ID_L, ID_R),
                    f"links_{rule}",
                )
            out[f"block.{rule}.s"] = (tracer.seconds(f"block.{rule}"), "s")
            out[f"block.{rule}.pairs"] = (rule_links.count(), "count")
        n_links = links.count()
        truth = truth.join(records.select("record_id"), "record_id", "left_semi")
        all_true = (
            truth.groupBy("label_true")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .collect()[0][0]
        )
        cand_true = _true_pairs_in(links, truth)

        narrow = records.select(*PAIR_FEATURE_COLUMNS)
        bcast = should_broadcast(narrow, max_bytes=pipe.broadcast_records_max_bytes)
        linkage = Linkage(narrow, narrow, links)
        dims = [c.name for c in pipe.comparers]
        with tracer.span("compare"):
            compared = save(
                compare(
                    pair_features(linkage.links_with_both(broadcast_records=bcast)),
                    pipe.comparers,
                ).select(ID_L, ID_R, *dims),
                "compared",
            )
        with tracer.span("compare.join"):
            pairs = save(linkage.links_with_both(broadcast_records=bcast), "pairs")
        features = {
            "jaccard": [
                jaccard_distinct(F.col("tok_hashes_l"), F.col("tok_hashes_r")),
                jaccard_distinct(F.col("shingle_hashes_l"), F.col("shingle_hashes_r")),
            ],
            "lev": [levenshtein_ratio(F.col("prefix_l"), F.col("prefix_r"))],
            "jw": [jaro_winkler_similarity(F.col("path_l"), F.col("path_r"))],
        }
        for feat, cols in features.items():
            with tracer.span(f"compare.{feat}"):
                _noop(pairs.select(ID_L, ID_R, *cols))

        with tracer.span("em"):
            sample = sample_table(
                compared, pipe.em_max_pairs, seed=pipe.seed, method="hash_filter"
            ).select(*dims)
            weights = em_from_sample(pipe.comparers, sample)
        with tracer.span("score"):
            scored = save(
                weights.score_compared(compared).select(ID_L, ID_R, "odds"), "scored"
            )
            matches = save(
                scored.filter(F.col("odds") >= pipe.threshold_odds).select(ID_L, ID_R),
                "matches",
            )
        n_matches = matches.count()
        match_true = _true_pairs_in(matches, truth)

        with tracer.span("cc"):
            components = save(
                connected_components(
                    matches,
                    records.select("record_id"),
                    algorithm=pipe.cc_algorithm,
                    checkpoint_dir=str(wd / "cc_rounds"),
                ),
                "components",
            )
    assignment = {(r["record_id"], r["component"]) for r in components.collect()}

    t = tracer.seconds
    out.update(
        {
            "records.s": (t("records"), "s"),
            "records.pages_per_s": (n_pages / t("records"), "1/s"),
            "block.s": (t("block"), "s"),
            "block.pairs": (n_links, "count"),
            "block.pairs_per_s": (n_links / t("block"), "1/s"),
            "block.pair_quality": (cand_true / n_links if n_links else 0.0, "ratio"),
            "block.pair_recall": (cand_true / all_true if all_true else 1.0, "ratio"),
            "compare.s": (t("compare"), "s"),
            "compare.pairs_per_s": (n_links / t("compare"), "1/s"),
            "compare.join.s": (t("compare.join"), "s"),
            "compare.jaccard.s": (t("compare.jaccard"), "s"),
            "compare.lev.s": (t("compare.lev"), "s"),
            "compare.jw.s": (t("compare.jw"), "s"),
            "em.s": (t("em"), "s"),
            "score.s": (t("score"), "s"),
            "match.pairs": (n_matches, "count"),
            "match.precision": (match_true / n_matches if n_matches else 1.0, "ratio"),
            "cc.s": (t("cc"), "s"),
            "cc.edges": (n_matches, "count"),
            "ckpt.bytes": (sum(dir_bytes(wd / n) for n in STAGE_OUTPUTS), "bytes"),
        }
    )
    return out, assignment
