"""The text-reuse DAG as ``plans.registry`` recipes over a generated corpus.

BLAST hits -> ids -> pieces -> defrag -> Chinese Whispers (CW) ->
metadata -> reception -> coverages: 26 of the reference's 35 assets,
composed here (not imported from ``examples/``) so that the benchmark's
workload stays fixed while the examples change. Left out, to keep a cold
run inside the benchmark's time budget, are the nine assets that only
feed ``source_piece_statistics_full`` and ``manifestation_title``: the
actor, work and per-trs metadata mappings. Each asset costs about a
second of fixed Spark overhead whatever its size.

Each recipe builder calls ``on_asset(name)`` first. ``Registry.materialise``
runs builder, snapshot write and read-back of one asset before it calls
the next builder, so the time between two calls, and every Spark job
started in it, belongs to one asset.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import functions as F

from inputs import HIT_SCHEMA, NEWS_SCHEMA

#: the layer (module) each asset's work is charged to
LAYERS = {
    "sources": (
        "raw_hits", "ecco_core", "eebo_core", "newspapers_core", "estc_core",
        "textreuse_sources",
    ),
    "textreuse": ("textreuse_ids", "textreuses", "orig_pieces", "orig_textreuses"),
    "defrag": ("piece_id_mappings", "defrag_pieces", "defrag_textreuses"),
    "clustering": ("clustered_defrag_pieces",),
    "metadata": (
        "manifestation_ids", "edition_ids", "edition_mapping",
        "manifestation_publication_date", "manifestation_dates",
    ),
    "reception": (
        "earliest_pieces", "reception_edges", "reception_edges_denorm",
        "eligible_book_trs", "book_reception_edges",
    ),
    "coverage_stats": ("textreuse_source_lengths", "coverages"),
}
LAYER_OF = {a: layer for layer, assets in LAYERS.items() for a in assets}

#: terminal assets whose closure is the whole DAG
TERMINALS = ("reception_edges_denorm", "book_reception_edges", "coverages")


def build_registry(
    data_dir: str,
    on_asset: Callable[[str], None],
    max_iter: int,
    min_active: float,
    cw_stats: dict,
    zip_partitions: int,
):
    from hpc_hd_textreuse_etl_spark.operators import defrag as D
    from hpc_hd_textreuse_etl_spark.plans import metadata as M
    from hpc_hd_textreuse_etl_spark.plans import textreuse as TR
    from hpc_hd_textreuse_etl_spark.plans.registry import Registry
    from hpc_hd_textreuse_etl_spark.sources.csv_source import read_csv
    from hpc_hd_textreuse_etl_spark.sources.zip_jsonl import read_zip_jsonl

    reg = Registry()

    def add(name, deps, fn):
        def builder(s, **dfs):
            on_asset(name)
            return fn(s, **dfs)

        reg.add(name, deps=deps, builder=builder)

    def pq(name):
        return lambda s: s.read.parquet(os.path.join(data_dir, f"{name}.parquet"))

    add("raw_hits", [], lambda s: read_zip_jsonl(
        s, os.path.join(data_dir, "blast_hits.zip"), HIT_SCHEMA, num_partitions=zip_partitions))
    for name in ("ecco_core", "eebo_core", "estc_core", "textreuse_sources"):
        add(name, [], pq(name))
    add("newspapers_core", [], lambda s: read_csv(
        s, os.path.join(data_dir, "bl_newspapers_meta_csv"), NEWS_SCHEMA))

    # --- core text-reuse chain -------------------------------------------
    add("textreuse_ids", ["raw_hits"], lambda s, raw_hits: TR.textreuse_ids(raw_hits))
    add("textreuses", ["raw_hits", "textreuse_ids"],
        lambda s, raw_hits, textreuse_ids: TR.textreuses(raw_hits, textreuse_ids))
    add("orig_pieces", ["textreuses"], lambda s, textreuses: TR.orig_pieces(textreuses))
    add("orig_textreuses", ["textreuses", "orig_pieces"],
        lambda s, textreuses, orig_pieces: TR.orig_textreuses(textreuses, orig_pieces))
    add("piece_id_mappings", ["orig_pieces"], lambda s, orig_pieces: D.piece_id_mappings(orig_pieces))
    add("defrag_pieces", ["orig_pieces", "piece_id_mappings"],
        lambda s, orig_pieces, piece_id_mappings: D.defrag_pieces(orig_pieces, piece_id_mappings))
    add("defrag_textreuses", ["orig_textreuses", "piece_id_mappings"],
        lambda s, orig_textreuses, piece_id_mappings: D.defrag_textreuses(
            orig_textreuses.select("piece1_id", "piece2_id"), piece_id_mappings))
    add("clustered_defrag_pieces", ["defrag_textreuses"],
        lambda s, defrag_textreuses: TR.cluster_pieces(
            defrag_textreuses, max_iter=max_iter, min_active=min_active, stats=cw_stats))

    # --- metadata layer ---------------------------------------------------
    cores = ["ecco_core", "eebo_core", "newspapers_core"]
    add("manifestation_ids", cores,
        lambda s, ecco_core, eebo_core, newspapers_core:
            M.manifestation_ids(ecco_core, eebo_core, newspapers_core))
    add("edition_ids", cores + ["manifestation_ids"],
        lambda s, ecco_core, eebo_core, newspapers_core, manifestation_ids:
            M.edition_ids_and_mapping(ecco_core, eebo_core, newspapers_core, manifestation_ids)[0])
    add("edition_mapping", cores + ["manifestation_ids"],
        lambda s, ecco_core, eebo_core, newspapers_core, manifestation_ids:
            M.edition_ids_and_mapping(ecco_core, eebo_core, newspapers_core, manifestation_ids)[1])
    add("manifestation_publication_date",
        cores + ["estc_core", "manifestation_ids", "edition_ids", "edition_mapping"],
        lambda s, ecco_core, eebo_core, newspapers_core, estc_core,
               manifestation_ids, edition_ids, edition_mapping:
            M.manifestation_publication_date(
                ecco_core, eebo_core, newspapers_core, estc_core,
                manifestation_ids, edition_ids, edition_mapping))
    add("manifestation_dates", ["textreuse_ids", "manifestation_ids", "manifestation_publication_date"],
        lambda s, textreuse_ids, manifestation_ids, manifestation_publication_date: (
            textreuse_ids.join(manifestation_ids, "manifestation_id")
            .join(manifestation_publication_date, "manifestation_id_i")
            .select("trs_id", "publication_date")))

    # --- reception / coverages -------------------------------------------
    add("earliest_pieces", ["clustered_defrag_pieces", "defrag_pieces", "manifestation_dates"],
        lambda s, clustered_defrag_pieces, defrag_pieces, manifestation_dates:
            TR.earliest_pieces_by_cluster(clustered_defrag_pieces, defrag_pieces, manifestation_dates))
    add("reception_edges", ["clustered_defrag_pieces", "earliest_pieces"],
        lambda s, clustered_defrag_pieces, earliest_pieces:
            TR.reception_edges(clustered_defrag_pieces, earliest_pieces))
    add("reception_edges_denorm", ["reception_edges", "defrag_pieces"],
        lambda s, reception_edges, defrag_pieces: TR.reception_edges_denorm(reception_edges, defrag_pieces))

    def eligible_books(s, textreuse_ids, ecco_core, eebo_core):
        books = (
            ecco_core.select(F.col("ecco_id").alias("manifestation_id"))
            .unionByName(
                eebo_core.filter(F.col("eebo_tcp_id").isNotNull())
                .select(F.col("eebo_tcp_id").alias("manifestation_id"))
            )
            .distinct()
        )
        return textreuse_ids.join(books, "manifestation_id", "left_semi").select("trs_id")

    add("eligible_book_trs", ["textreuse_ids", "ecco_core", "eebo_core"], eligible_books)
    add("book_reception_edges",
        ["clustered_defrag_pieces", "defrag_pieces", "manifestation_dates", "eligible_book_trs"],
        lambda s, clustered_defrag_pieces, defrag_pieces, manifestation_dates, eligible_book_trs:
            TR.restricted_reception(
                clustered_defrag_pieces, defrag_pieces, manifestation_dates, eligible_book_trs)[1])
    add("textreuse_source_lengths", ["textreuse_sources", "textreuse_ids"],
        lambda s, textreuse_sources, textreuse_ids:
            TR.textreuse_source_lengths(textreuse_sources, textreuse_ids))
    add("coverages", ["defrag_textreuses", "defrag_pieces", "textreuse_source_lengths"],
        lambda s, defrag_textreuses, defrag_pieces, textreuse_source_lengths:
            TR.coverages(defrag_textreuses, defrag_pieces, textreuse_source_lengths))
    return reg
