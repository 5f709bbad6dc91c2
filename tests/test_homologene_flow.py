"""plans/homologene.py — hand-fixture semantics tests for the deprecated
HomoloGene flow (S5 + J13 + per-group CDC; HomologeneLoader.java:95-205)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.plans.homologene import run_homologene_load
from ortholog_pipeline_spark.schemas import HOMOLOGENE_SCHEMA
from ortholog_pipeline_spark.sources.state import StateStore
from table_schemas import ORTHOLOGS_SCHEMA, XREFS_SCHEMA
from test_state_store import is_partitioned_by

TS = datetime(2024, 1, 2)
T0 = datetime(2020, 1, 1)


def _store(spark, tmp_path, xrefs, orthologs, orthologs_layout=None):
    store = StateStore(spark, str(tmp_path / "state"))
    store.write("xrefs", spark.createDataFrame(xrefs, XREFS_SCHEMA))
    store.write(
        "orthologs",
        spark.createDataFrame(orthologs, ORTHOLOGS_SCHEMA),
        partition_by=orthologs_layout,
    )
    return store


def _group7(spark, tmp_path, orthologs_layout=None):
    """The store and file entries of the group-7 CDC case."""
    # genes: EG1->101, EG2->102, EG3->103; EGM multi (2 rows); EGX absent
    xrefs = [
        (1, 101, "EG1", 3, "E", T0),
        (2, 102, "EG2", 3, "E", T0),
        (3, 103, "EG3", 3, "E", T0),
        (4, 104, "EGM", 3, "E", T0),
        (5, 105, "EGM", 3, "E", T0),
    ]
    # group 7 file entries: EG1(human) EG2(mouse) EG3(rat) EGM(multi->drop)
    # EGX(no match->drop) + a frog entry (bad species)
    entries = spark.createDataFrame(
        [
            (7, "9606", "EG1"),
            (7, "10090", "EG2"),
            (7, "10116", "EG3"),
            (7, "9606", "EGM"),
            (7, "9606", "EGX"),
            (7, "8355", "EG1"),  # frog: unsupported species
        ],
        HOMOLOGENE_SCHEMA,
    )
    def orow(key, g, src, dest, xsrc):
        return (key, src, dest, 1, 2, g, xsrc, "HOMOLOGENE", 11, None, 70, T0, 70, T0)
    orthologs = [
        orow(1, 7, 101, 102, "HOMOLOGENE"),   # matched by incoming -> touch
        orow(2, 7, 101, 999, "HOMOLOGENE"),   # stale in-scope -> delete
        orow(3, 7, 101, 998, "HGNC"),         # other source, same group -> fenced
        orow(4, 8, 201, 202, "HOMOLOGENE"),   # group absent from file -> fenced
    ]
    return _store(spark, tmp_path, xrefs, orthologs, orthologs_layout), entries


def test_homologene_pairs_cdc_and_scope_fence(spark, tmp_path):
    store, entries = _group7(spark, tmp_path)
    res = run_homologene_load(store, entries, TS)

    # 3 resolved entries -> 3 unordered pairs -> 6 directed incoming rows;
    # one matches existing row 1 -> 5 inserts
    assert res.n_bad_species == 1
    assert res.n_no_rgd == 1
    assert res.n_multi_rgd == 1
    assert res.n_matched == 1
    assert res.n_inserted == 5
    assert res.n_deleted == 1

    final = store.read("orthologs")
    keys = {r["genetogene_key"] for r in final.collect()}
    assert 2 not in keys           # stale in-scope row deleted
    assert 3 in keys and 4 in keys  # fenced rows survive
    # matched row restamped
    m = final.filter(F.col("genetogene_key") == 1).collect()[0]
    assert m["last_modified_date"] == TS and m["created_date"] == T0
    # inserted pairs are symmetric: (102,103) and (103,102) both present
    pairs = {
        (r["src_rgd_id"], r["dest_rgd_id"])
        for r in final.filter(F.col("xref_data_src") == "HOMOLOGENE").collect()
    }
    assert (102, 103) in pairs and (103, 102) in pairs
    # ... and the complement of the matched direction was inserted too
    assert (102, 101) in pairs


def test_homologene_keeps_partitioned_orthologs_layout(spark, tmp_path):
    """On orthologs partitioned by dest species the load writes the same rows
    as on a flat table, and the new version stays partitioned."""
    flat, entries = _group7(spark, tmp_path / "flat")
    part, _ = _group7(spark, tmp_path / "part", ["dest_species_type_key"])
    for store in (flat, part):
        run_homologene_load(store, entries, TS)

    def rows(store):
        return sorted(
            tuple(sorted(r.asDict().items()))
            for r in store.read("orthologs").collect()
        )

    assert is_partitioned_by(part, "orthologs", "dest_species_type_key")
    assert rows(part) == rows(flat)


def test_homologene_empty_group_deletes_all_in_scope(spark, tmp_path):
    """A file group whose entries all fail resolution still syncs: its
    existing HOMOLOGENE rows are all stale (qcGroups removes the entries but
    the group object remains, so inRgdList drains to deleteList)."""
    xrefs = [(1, 101, "EG1", 3, "E", T0)]
    entries = spark.createDataFrame([(9, "9606", "EGX")], HOMOLOGENE_SCHEMA)
    orthologs = [
        (1, 301, 302, 1, 2, 9, "HOMOLOGENE", "HOMOLOGENE", 11, None, 70, T0, 70, T0),
    ]
    store = _store(spark, tmp_path, xrefs, orthologs)
    res = run_homologene_load(store, entries, TS)
    assert res.n_deleted == 1 and res.n_inserted == 0
    assert store.read("orthologs").count() == 0


def test_homologene_honours_reliable_checkpoints(spark, tmp_path, monkeypatch):
    """With spark.ortholog.checkpoint.reliable=true the flow's stored frames
    are written to the checkpoint dir: no junction bypasses the switch."""
    from ortholog_pipeline_spark.operators import iterate as IT
    from test_guards_and_iterate import reliable_checkpoints

    # keep every stored frame referenced until the dir is listed: the
    # session cleans checkpoint files once their frame is unreferenced
    stored = []
    real = IT.round_checkpoint
    monkeypatch.setattr(
        IT, "round_checkpoint", lambda df: stored.append(real(df)) or stored[-1]
    )
    store, entries = _group7(spark, tmp_path)
    ckpt = tmp_path / "ckpt"
    with reliable_checkpoints(spark, str(ckpt)):
        res = run_homologene_load(store, entries, TS)
        written = [d for _, ds, _ in os.walk(ckpt) for d in ds]
    assert res.n_inserted == 5 and res.n_deleted == 1
    assert any(d.startswith("rdd-") for d in written), "nothing checkpointed"
