"""§3.1 — the per-species HCOP/NCBI load, as ONE declarative Spark DAG.

The reference (OrthologRelationLoadingManager.run → OrthologRelationLoader.run)
iterates groups and issues per-group JDBC probes; here every per-group step is a
dataset-wide join/window over immutable snapshots (SURVEY.md §3.1 "Spark
restatement"). Order-dependent DB mutation becomes compute-all-sets-then-reconcile
set algebra (§7 hard parts), so the flow is deterministic and replayable.

Execution: the DAG runs as two sides joined at the cascade. The snapshot side
(the symbol dim, the manual + Alliance tiers, the W4 ranking of existing rows,
and the key high-water marks) reads only snapshot tables, so it runs on the run
scope's workers (`RunScope.submit`) while the calling thread parses, resolves
and merges the landing files into ``closed``. Later, the surrogate-keyed inserts
build in the background while the caller derives the deletes and runs the churn
guard, and the orthologs commit stages while the caller builds the association
sync, which reads only the current snapshots.

Scale notes: the resolution dim and the per-key tier candidates are bounded by the
xref/state tables → broadcast joins; the wide ops are the group-merge shuffle and the
full-outer conflict join, both keyed on (src_rgd_id, dest_species_type_key) — a key
that is unique per human gene × species, i.e. high-cardinality and unskewed.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import bestfit, grouping, quality, resolve, sync
from ortholog_pipeline_spark.operators import iterate as IT
from ortholog_pipeline_spark.schemas import (
    HUMAN,
    ORTHOLOG_TYPE_DIRECT,
    PIPELINE_USER_ID,
)
from ortholog_pipeline_spark.sources.state import StateStore, next_surrogate_keys

#: Tier numbers of the generateOrtholog cascade (OrthologRelationLoader.java:460-504).
TIER_MANUAL, TIER_ALLIANCE, TIER_HGNC, TIER_NCBI = 1, 2, 3, 4

KEY = ["src_rgd_id", "dest_species_type_key"]


@dataclass
class SpeciesLoadResult:
    resolved_dropped: DataFrame  # J1 audit stream (unmatched/multiple/withdrawn)
    resolution_metrics: DataFrame  # A6 counters
    picks: DataFrame  # per-key winning tier + dest (pre-conflict)
    verdicts: DataFrame  # J7 conflict verdicts vs existing orthologs
    inserted: DataFrame
    deleted: DataFrame
    downgraded: DataFrame  # incoming rows downgraded to weak associations
    assoc_verdicts: DataFrame  # J10 association sync verdicts
    orthologs_version: int
    associations_version: int


def _symbol_dim(genes: DataFrame) -> DataFrame:
    """The gene-symbol dim: ``rgd_id``, ``gene_symbol`` (best-fit tie-breaks,
    W1) and its lower-cased ``_sym_lc`` (the W3/W4 comparator)."""
    return genes.select(
        "rgd_id", "gene_symbol", F.lower("gene_symbol").alias("_sym_lc")
    )


def _snapshot_tiers(
    genes: DataFrame, existing_orthologs: DataFrame, agr_orthologs: DataFrame
) -> DataFrame:
    """The manual (J3) and Alliance (J2) tiers: one row per (key, tier), read
    from the snapshots alone. Each contributes its single candidate, or a
    `blocked` row when >1 candidates exist (A8 conflict ⇒ pick none, and the
    cascade STOPS at that tier — Loader.java:468-471, 479-481)."""
    # -- tier 1: manual orthologs (xref_data_src='RGD') for the key (F5, J3)
    manual = (
        existing_orthologs.filter(F.col("xref_data_src") == "RGD")
        .groupBy(*KEY)
        .agg(
            F.count("*").alias("_n"),
            F.min("dest_rgd_id").alias("dest_rgd_id"),
        )
        .select(
            *KEY,
            F.lit(TIER_MANUAL).alias("tier"),
            F.when(F.col("_n") == 1, F.col("dest_rgd_id")).alias("dest_rgd_id"),
            (F.col("_n") > 1).alias("blocked"),
            F.lit("RGD").alias("xref_data_src"),
            F.lit(None).cast("string").alias("xref_data_set"),
        )
    )

    # -- tier 2: Alliance mutual-best partner in the dest species (J2, U2, F8)
    both_dirs = agr_orthologs.filter(
        (F.col("is_best_score") == "Y") & (F.col("is_best_rev_score") == "Y")
    )
    fwd = both_dirs.select(
        F.col("gene_rgd_id_1").alias("src_rgd_id"),
        F.col("gene_rgd_id_2").alias("partner_rgd_id"),
        "methods_matched",
    )
    rev = both_dirs.select(
        F.col("gene_rgd_id_2").alias("src_rgd_id"),
        F.col("gene_rgd_id_1").alias("partner_rgd_id"),
        "methods_matched",
    )
    partner_species = genes.select(
        F.col("rgd_id").alias("partner_rgd_id"),
        F.col("species_type_key").alias("dest_species_type_key"),
    )
    alliance = (
        fwd.unionByName(rev)
        .join(F.broadcast(partner_species), "partner_rgd_id")
        .groupBy(*KEY)
        .agg(
            F.count("*").alias("_n"),
            F.min("partner_rgd_id").alias("dest_rgd_id"),
            F.min("methods_matched").alias("_methods"),
        )
        .select(
            *KEY,
            F.lit(TIER_ALLIANCE).alias("tier"),
            F.when(F.col("_n") == 1, F.col("dest_rgd_id")).alias("dest_rgd_id"),
            (F.col("_n") > 1).alias("blocked"),
            F.lit("Alliance").alias("xref_data_src"),
            F.when(F.col("_n") == 1, F.col("_methods")).alias("xref_data_set"),
        )
    )
    return manual.unionByName(alliance)


def _file_tiers(closed: DataFrame, sym: DataFrame) -> DataFrame:
    """The HGNC and NCBI tiers (F4 + W1): per-source best-fit over the resolved
    relations, with gene symbols joined in for the tie-break rules. Each
    produces exactly one candidate per key via the best-fit window."""
    with_syms = (
        closed.join(
            F.broadcast(sym.select(
                F.col("rgd_id").alias("src_rgd_id"),
                F.col("gene_symbol").alias("src_gene_symbol"),
            )),
            "src_rgd_id",
            "left",
        )
        .join(
            F.broadcast(sym.select(
                F.col("rgd_id").alias("dest_rgd_id"),
                F.col("gene_symbol").alias("dest_gene_symbol"),
            )),
            "dest_rgd_id",
            "left",
        )
    )

    def file_tier(source: str, tier: int) -> DataFrame:
        cands = with_syms.filter(F.col("data_source") == source)
        picked = bestfit.best_fit(
            cands,
            KEY,
            evidence_col="data_set_name",
            src_symbol_col="src_gene_symbol",
            dest_symbol_col="dest_gene_symbol",
            final_tiebreak_col="dest_rgd_id",
        )
        return picked.select(
            *KEY,
            F.lit(tier).alias("tier"),
            "dest_rgd_id",
            F.lit(False).alias("blocked"),
            F.lit("HGNC" if source == "HGNC" else "NCBI").alias("xref_data_src"),
            F.col("data_set_name").alias("xref_data_set"),
        )

    return file_tier("HGNC", TIER_HGNC).unionByName(file_tier("NCBI", TIER_NCBI))


def _cascade_pick(tiers: DataFrame) -> DataFrame:
    """First tier wins per key; a blocked tier wins the cascade but yields no
    ortholog (the A8 conflict swallows the key).

    r11 (guide §2.3): ``min_by`` aggregate instead of a row_number window —
    the hash aggregate partially aggregates MAP-SIDE (≤ 1 struct per key per
    map task crosses the exchange instead of every tier row) and drops the
    window's full partition sort. Deterministic because tier is unique per
    key by construction: each tier subframe emits at most one row per key
    (manual/alliance groupBy, best-fit rank-1), so min_by never ties."""
    return (
        tiers.groupBy(*KEY)
        .agg(
            F.min_by(
                F.struct(
                    "tier", "dest_rgd_id", "blocked",
                    "xref_data_src", "xref_data_set",
                ),
                F.col("tier"),
            ).alias("_top")
        )
        .select(*KEY, "_top.*")
        .filter(~F.col("blocked"))
        .drop("blocked")
    )


def _lc_syms(sym: DataFrame, key: str, name: str) -> DataFrame:
    """The lower-cased symbol dim keyed by ``key``, its symbol named ``name``."""
    return F.broadcast(
        sym.select(F.col("rgd_id").alias(key), F.col("_sym_lc").alias(name))
    )


def _rank_existing(existing: DataFrame, sym: DataFrame) -> DataFrame:
    """W4 — every existing row with its per-key comparator rank ``_rn`` (1 =
    best) plus ownership flags. The comparator is W3's full one
    (compareOrthologs, OrthologRelationDao.java:164-188): source priority
    (RGD > Alliance > HGNC > NCBI), evidence count,
    dest-symbol-matches-src-symbol, then descending case-insensitive dest
    symbol. Rank 1 enters the conflict join; the rest are surplus
    (Dao.java:121-133 sorts and keeps one), and the ranks also order the
    REQUIREMENT-2-guarded stale deletes (Dao.java:92-99)."""
    from ortholog_pipeline_spark.functions.strings import (
        evidence_count,
        source_priority,
    )

    ex = (
        existing.select(
            *KEY,
            F.col("dest_rgd_id").alias("ex_dest_rgd_id"),
            F.col("xref_data_src").alias("ex_src"),
            F.col("xref_data_set").alias("ex_set"),
            F.col("genetogene_key").alias("ex_key"),
            F.col("created_by").alias("ex_created_by"),
        )
        .join(_lc_syms(sym, "src_rgd_id", "_src_sym"), "src_rgd_id", "left")
        .join(
            _lc_syms(sym, "ex_dest_rgd_id", "_ex_dest_sym"), "ex_dest_rgd_id", "left"
        )
    )
    w = Window.partitionBy(*KEY).orderBy(
        source_priority("ex_src").desc(),
        evidence_count("ex_set").desc(),
        F.col("_ex_dest_sym").eqNullSafe(F.col("_src_sym")).desc(),
        F.col("_ex_dest_sym").desc_nulls_last(),
        F.col("ex_key").asc(),
    )
    return ex.withColumn("_rn", F.row_number().over(w))


def _conflict_verdicts(
    picks: DataFrame, ex_ranked: DataFrame, sym: DataFrame
) -> DataFrame:
    """J7 — incoming pick vs the comparator-best existing ortholog for the same
    key (rank 1 of `_rank_existing`), as one full-outer join + the W3
    comparator encoded in a when/otherwise chain (OrthologRelationDao.java:
    107-159, comparator :164-188). The symbol stages break priority+evidence
    ties between the surviving in-DB row and the incoming candidate.

    Verdicts: INSERT (no existing), MATCH (same dest → touch), DELETE_EXISTING
    (incoming outranks existing → replace), DOWNGRADE (existing outranks → incoming
    becomes a weak association), STALE (existing with no incoming pick).
    """
    from ortholog_pipeline_spark.functions.strings import (
        evidence_count,
        source_priority,
    )

    ex_best = ex_ranked.filter(F.col("_rn") == 1).drop(
        "_rn", "ex_created_by", "_src_sym"
    )
    inc = picks.join(
        _lc_syms(sym, "dest_rgd_id", "_inc_dest_sym"), "dest_rgd_id", "left"
    ).join(_lc_syms(sym, "src_rgd_id", "_src_sym"), "src_rgd_id", "left")
    j = inc.join(ex_best, KEY, "full_outer")
    inc_rank = source_priority("xref_data_src") * 1000 + evidence_count("xref_data_set")
    ex_rank = source_priority("ex_src") * 1000 + evidence_count("ex_set")
    # symbol tie-break (compareOrthologs, Dao.java:180-188): existing-dest-matches-src
    # wins first, then incoming-dest-matches-src, then larger (case-insensitive)
    # dest symbol wins
    ex_sym_match = F.col("_ex_dest_sym").eqNullSafe(F.col("_src_sym"))
    inc_sym_match = F.col("_inc_dest_sym").eqNullSafe(F.col("_src_sym"))
    verdict = (
        F.when(F.col("ex_dest_rgd_id").isNull(), F.lit("INSERT"))
        .when(F.col("dest_rgd_id").isNull(), F.lit("STALE"))
        .when(F.col("dest_rgd_id") == F.col("ex_dest_rgd_id"), F.lit("MATCH"))
        .when(inc_rank > ex_rank, F.lit("DELETE_EXISTING"))
        .when(inc_rank < ex_rank, F.lit("DOWNGRADE"))
        .when(ex_sym_match, F.lit("DOWNGRADE"))
        .when(inc_sym_match, F.lit("DELETE_EXISTING"))
        .when(
            F.coalesce(F.col("_inc_dest_sym"), F.lit(""))
            > F.coalesce(F.col("_ex_dest_sym"), F.lit("")),
            F.lit("DELETE_EXISTING"),
        )
        .otherwise(F.lit("DOWNGRADE"))
    )
    return j.withColumn("verdict", verdict).drop(
        "_src_sym", "_inc_dest_sym", "_ex_dest_sym"
    )


def _snapshot_side(
    genes: DataFrame, species_scope: DataFrame, agr: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The flow's frames that read only snapshot tables, stored and
    materialized: the symbol dim, the manual + Alliance tiers and the W4
    ranking of the existing rows. They share no producer edge with the
    landing files, so the flow runs this while ``closed`` materializes."""
    # the symbol dim feeds six broadcast joins under different renames (two in
    # the HGNC/NCBI tiers, two in W4, two on the incoming side of the conflict
    # join) — non-identical subtrees that ReuseExchange cannot dedup, so each
    # would rescan genes without the checkpoint (same lesson as the AGR dims)
    sym = IT.materialized(_symbol_dim(genes))
    return (
        sym,
        IT.materialized(_snapshot_tiers(genes, species_scope, agr)),
        IT.materialized(_rank_existing(species_scope, sym)),
    )


def run_species_load(
    store: StateStore,
    relations: DataFrame,
    run_ts: datetime,
    dest_species_type_key: int,
    delete_threshold_pct: float = 10.0,
) -> SpeciesLoadResult:
    """Execute the §3.1 flow for one species against the state store.

    ``relations`` is the parsed + projected HCOP∪NCBI relation stream (U1) with
    external ids; ``run_ts`` stamps every write (C11 — captured once, deterministic).
    The whole flow is one `StateStore.run` over orthologs + associations: both
    tables publish together or not at all (SURVEY §1.4 run-snapshot contract).
    """
    with store.run(["orthologs", "associations"]) as run:
        genes = store.read("genes")
        rgd_ids = store.read("rgd_ids")
        xrefs = store.read("xrefs")
        orthologs = store.read("orthologs")
        associations = store.read("associations")
        agr = store.read("agr_orthologs")

        # existing orthologs relevant to this run: keys of either direction
        in_scope = (F.col("dest_species_type_key") == dest_species_type_key) | (
            F.col("src_species_type_key") == dest_species_type_key
        )
        species_scope = orthologs.filter(in_scope)
        # ONE job serves all three driver-side scalars: the ortholog surrogate-key
        # high-water mark, the churn-guard denominator (max() already visits every
        # partition, so the conditional count rides the same scan), AND the
        # association high-water mark — the union of the two 1-row aggregates runs
        # both table scans as parallel stages of a single action (flow job-count
        # budget, VERDICT r4 item 1).
        _stats_plan = (
            orthologs.agg(
                F.max("genetogene_key").alias("_mx"),
                F.sum(F.when(in_scope, 1).otherwise(0)).alias("_n_scope"),
            )
            .select(F.lit("orth").alias("_t"), "_mx", "_n_scope")
            .unionByName(
                associations.agg(F.max("assoc_key").alias("_mx")).select(
                    F.lit("assoc").alias("_t"),
                    "_mx",
                    F.lit(None).cast("long").alias("_n_scope"),
                )
            )
        )
        # The stats job and the snapshot side read only the SNAPSHOT tables and
        # share no producer edge with the parse→resolve→merge chain, so
        # `run.submit` runs them in the background, one per worker, while
        # `closed` materializes on this thread; the run scope joins them before
        # it commits or aborts.
        stats_job = run.submit(_stats_plan.collect)
        snapshot_job = run.submit(_snapshot_side, genes, species_scope, agr)

        # J1 resolution via broadcast dimension join
        dim = resolve.build_resolution_dim(xrefs, genes, rgd_ids)
        resolved = resolve.resolve_relations(relations, dim)
        clean, dropped = resolve.split_resolved(resolved)
        res_metrics = resolve.resolution_metrics(resolved)

        # A1/A2 group + dedup-merge, then U4 symmetric closure. ``closed`` feeds
        # the tier cascade AND the weak-association candidates AND (via picks)
        # the conflict join — checkpoint it so the parse→resolve→merge lineage
        # computes once, not once per downstream action.
        #
        # Guard counters ride the materializing action via the Observation API
        # (VERDICT r3 item 3): the non-human-source structural assert is observed on
        # ``clean`` (pre-merge rows, where reversed twins don't exist yet) and the
        # A2 unmergeable check on ``closed`` itself (the closure preserves null
        # data_source rows, so the failure set is identical) — both fill during the
        # ONE ``closed.count()`` instead of each paying its own parse→resolve scan.
        # On the (exceptional) failure path we re-run the precise helper to produce
        # the reference's detailed error.
        clean_obs, human_guard = quality.observed(
            clean,
            "species_load_src_guard",
            F.sum(
                F.when(F.col("src_species_type_key") != HUMAN, 1).otherwise(0)
            ).alias("n_nonhuman"),
        )
        merged = grouping.merge_duplicate_relations(clean_obs)
        closed, merge_guard = quality.observed(
            grouping.complement_closure(merged),
            "species_load_merge_guard",
            F.sum(F.when(F.col("data_source").isNull(), 1).otherwise(0)).alias(
                "n_unmergeable"
            ),
        )
        # checkpointed, not cached: closed's parse->resolve->merge
        # lineage re-enters EVERY downstream plan (tiers, weak candidates,
        # conflict join); truncating it here shrinks each of those plan trees
        # and the per-action planning cost with them. The call itself runs the
        # merge's AQE shuffle stages, concurrently with the background jobs.
        closed = IT.round_checkpoint(closed)
        closed.count()
        if human_guard.get["n_nonhuman"]:
            raise ValueError("ortholog group keyed by a non-human source gene")
        if merge_guard.get["n_unmergeable"]:
            grouping.check_mergeable(closed)  # raises with the offending pair
        _stats = {r["_t"]: r for r in stats_job.result()}
        max_key_row = _stats["orth"]["_mx"]
        n_scope = _stats["orth"]["_n_scope"] or 0
        max_ak = _stats["assoc"]["_mx"]
        sym, snapshot_tiers, ex_ranked = snapshot_job.result()

        # 4-tier cascade → per-key pick. Checkpointed: the conflict join, the
        # pick_keys semi/anti probes in the delete derivation, and the result
        # object all re-enter this frame, and its lineage (two best-fit windows
        # over ``closed``) is the most expensive recompute in the plan.
        picks = IT.round_checkpoint(
            _cascade_pick(snapshot_tiers.unionByName(_file_tiers(closed, sym)))
        )

        # J7 conflict verdicts vs existing — consumed by inserts, deletes,
        # stale, touch, downgrades and the result object: checkpoint to stop 6×
        # recomputation of the cascade + full-outer join lineage
        verdicts = IT.round_checkpoint(_conflict_verdicts(picks, ex_ranked, sym))

        ts = F.lit(run_ts)
        species_of = F.broadcast(
            genes.select("rgd_id", "species_type_key")
        )

        def _mk_orthologs(df: DataFrame) -> DataFrame:
            out = (
                df.select(
                    "src_rgd_id",
                    "dest_rgd_id",
                    "dest_species_type_key",
                    "xref_data_src",
                    "xref_data_set",
                )
                .join(
                    species_of.withColumnsRenamed(
                        {
                            "rgd_id": "src_rgd_id",
                            "species_type_key": "src_species_type_key",
                        }
                    ),
                    "src_rgd_id",
                )
                .withColumn("group_id", F.lit(None).cast("int"))
                .withColumn("ortholog_type_key", F.lit(ORTHOLOG_TYPE_DIRECT))
                .withColumn("percent_homology", F.lit(None).cast("double"))
                .withColumn("created_by", F.lit(PIPELINE_USER_ID))
                .withColumn("created_date", ts)
                .withColumn("last_modified_by", F.lit(PIPELINE_USER_ID))
                .withColumn("last_modified_date", ts)
            )
            return out

        inserts_raw = _mk_orthologs(
            verdicts.filter(F.col("verdict").isin("INSERT", "DELETE_EXISTING"))
        )
        # stored (NOT merely cached): consumed by the provisional snapshot (W2
        # input), BOTH concurrent snapshot commits, and the result object. A cache
        # would keep the full keygen+cascade lineage in every consumer's logical
        # plan, and those plan trees compound until planning itself is the cost
        # (measured: tree stringification alone OOMed an 8g driver late in a
        # bench run); the checkpoint truncates the plan to a LogicalRDD leaf.
        # Keygen runs its own jobs, so it builds in the background while this
        # thread derives the deletes and runs the churn guard.
        inserts_job = run.submit(lambda: IT.materialized(
            next_surrogate_keys(inserts_raw, (max_key_row or 0), "genetogene_key")
            .select(*[f.name for f in orthologs.schema.fields])
        ))

        # deletes, three sources (all manual-guarded, churn-gated before commit):
        #   replaced — best existing outranked by the incoming pick
        #              (DELETE_EXISTING);
        #   surplus  — rank>1 rows of keys WITH a pick: getKeyForMatchingOrtholog
        #              prunes every probed key to its comparator-best row
        #              (Dao.java:121-133), regardless of whether the incoming
        #              then replaces or downgrades;
        #   stale    — rows of keys with NO pick this run (Loader.java:657-672),
        #              under REQUIREMENT 2 (Dao.java:92-99): never delete a
        #              key's LAST row — when nothing else (manual /
        #              non-pipeline-owned) would survive, the comparator-best
        #              stale candidate is kept.
        replaced = verdicts.filter(F.col("verdict") == "DELETE_EXISTING").select(
            F.col("ex_key").alias("genetogene_key")
        )
        pick_keys = picks.select(*KEY).dropDuplicates(KEY)
        surplus = (
            ex_ranked.filter(F.col("_rn") > 1)
            .join(pick_keys, KEY, "left_semi")
            .select(F.col("ex_key").alias("genetogene_key"))
        )
        is_cand = (F.col("ex_created_by") == PIPELINE_USER_ID) & (
            F.col("ex_src") != "RGD"
        )
        nopick = ex_ranked.join(pick_keys, KEY, "left_anti")
        protected_counts = (
            nopick.filter(~is_cand).groupBy(*KEY).agg(F.count("*").alias("_n_prot"))
        )
        w_cand = Window.partitionBy(*KEY).orderBy(F.col("_rn").asc())
        stale = (
            nopick.filter(is_cand)
            .join(protected_counts, KEY, "left")
            .fillna(0, subset=["_n_prot"])
            .withColumn("_crn", F.row_number().over(w_cand))
            # deletable unless it is the key's last surviving row
            .filter((F.col("_n_prot") > 0) | (F.col("_crn") > 1))
            .select(F.col("ex_key").alias("genetogene_key"))
        )
        manual_keys = species_scope.filter(F.col("xref_data_src") == "RGD").select(
            "genetogene_key"
        )
        # checkpointed: the churn guard counts this key list and the snapshot write
        # consumes it twice (directly and inside the provisional W2 input) — a tiny
        # frame whose lineage spans the whole cascade
        deletes = IT.round_checkpoint(
            replaced.unionByName(surplus)
            .unionByName(stale)
            .join(manual_keys, "genetogene_key", "left_anti")
        )
        if n_scope:
            sync.guard_delete_threshold(deletes.count(), n_scope, delete_threshold_pct)
        inserts = inserts_job.result()

        # W2 duplicate cleanup over the would-be next snapshot
        provisional = (
            orthologs.join(deletes, "genetogene_key", "left_anti").unionByName(inserts)
        )
        _, dup_deletes = bestfit.duplicate_cleanup(provisional, PIPELINE_USER_ID)
        # stored: the orthologs commit (its anti-join) and the association sync
        # (the next-snapshot pair frame) consume this key list concurrently. The
        # checkpoint (a) computes the W2 duplicate-cleanup window once instead
        # of once per consumer, and (b) truncates the cascade lineage out of
        # both plans — see the `inserts` note above for why plan-tree size is
        # the real constraint here.
        all_deletes = IT.round_checkpoint(
            deletes.unionByName(dup_deletes.select("genetogene_key"))
        )

        # S10: matched rows get their last-modified stamp refreshed
        matched_keys = verdicts.filter(F.col("verdict") == "MATCH").select(
            F.col("ex_key").alias("genetogene_key")
        )
        touched = sync.touch_last_modified(
            orthologs, matched_keys, ["genetogene_key"], run_ts, PIPELINE_USER_ID
        )

        # Both snapshot commits stage in the background under the run scope
        # (VERDICT r4 item 1, r5 item 1): they touch different tables and share no
        # producer/consumer edge, so the flow pays max(commit₁, commit₂) instead of
        # their sum, and the orthologs commit starts as soon as its three inputs
        # exist. The churn guard already ran (deletes.count() above), so a guard
        # abort still precedes ANY staging.
        run.stage(
            "orthologs",
            inserts=inserts,
            deletes=all_deletes,
            delete_key=["genetogene_key"],
            updates=touched,
            update_key=["genetogene_key"],
        )

        # associations: every closed relation is a weak candidate (Loader.java:116-136),
        # plus DOWNGRADEd picks; minus pairs covered by strong orthologs (J5).
        # J5 probes the NEXT ortholog snapshot — expressed here as the logical
        # frame ((current − all_deletes) ∪ inserts) rather than a re-read of the
        # just-written parquet: the timestamp-only `touched` updates cannot change
        # any (src, dest) pair, so pair coverage is identical, and cutting the
        # disk round-trip is what lets the two snapshot commits below run under
        # one fused wall-clock window instead of strictly in sequence.
        next_strong_pairs = (
            orthologs.join(all_deletes, "genetogene_key", "left_anti")
            .select("src_rgd_id", "dest_rgd_id")
            .unionByName(inserts.select("src_rgd_id", "dest_rgd_id"))
        )
        downgraded = verdicts.filter(F.col("verdict") == "DOWNGRADE")
        weak_candidates = (
            closed.select(
                F.col("src_rgd_id").alias("master_rgd_id"),
                F.col("dest_rgd_id").alias("detail_rgd_id"),
                F.col("data_set_name").alias("assoc_subtype"),
            )
            .unionByName(
                downgraded.select(
                    F.col("src_rgd_id").alias("master_rgd_id"),
                    F.col("dest_rgd_id").alias("detail_rgd_id"),
                    F.col("xref_data_set").alias("assoc_subtype"),
                )
            )
            # deterministic by construction: one pair can arrive from several sources
            # (e.g. both an HGNC and an NCBI relation after complement_closure) — a
            # dropDuplicates pick would depend on partitioning, so reduce to the
            # minimum subtype instead
            .groupBy("master_rgd_id", "detail_rgd_id")
            .agg(F.min("assoc_subtype").alias("assoc_subtype"))
            .withColumn("assoc_type", F.lit("weak_ortholog"))
            .withColumn("src_pipeline", F.lit("ORTHOLOGS"))
        )
        weak = sync.drop_covered_by_strong(weak_candidates, next_strong_pairs)

        # J10 full-outer sync vs existing weak associations
        existing_weak = associations.filter(F.col("assoc_type") == "weak_ortholog")
        assoc_key_cols = [
            "master_rgd_id", "detail_rgd_id", "assoc_type", "src_pipeline"
        ]
        # checkpointed: a_ins (keygen count pass + write), a_del, a_upd and the result
        # object all branch off this full-outer join — one materialization instead
        # of four runs of the weak-candidate sync lineage
        assoc_verdicts = IT.round_checkpoint(sync.sync_full_outer(
            weak, existing_weak, assoc_key_cols, ["assoc_subtype"]
        ))

        a_ins_raw = assoc_verdicts.filter(F.col("sync_verdict") == sync.INSERT).select(
            *assoc_key_cols, "assoc_subtype"
        )
        a_del = assoc_verdicts.filter(F.col("sync_verdict") == sync.DELETE).select(
            *assoc_key_cols
        )
        # J9: an insert whose reverse is queued for delete cancels both
        a_ins_raw, a_del = sync.reconcile_reverse_associations(a_ins_raw, a_del)

        a_ins = (
            next_surrogate_keys(a_ins_raw, (max_ak or 0), "assoc_key")
            .withColumn("creation_date", ts)
            .select(*[f.name for f in associations.schema.fields])
        )
        a_upd = (
            assoc_verdicts.filter(F.col("sync_verdict") == sync.UPDATE)
            .select(*assoc_key_cols, "assoc_subtype")
            .join(
                associations.select(*assoc_key_cols, "assoc_key", "creation_date"),
                assoc_key_cols,
            )
            .select(*[f.name for f in associations.schema.fields])
        )

        # The association sync above reads only the CURRENT snapshots, never the
        # staged orthologs version, so it overlapped that commit; this one stages
        # in the background too. On a clean exit the scope publishes both
        # _CURRENT markers with one atomic manifest flip; on any failure it joins
        # both writers and then rolls back — readers never see orthologs advanced
        # without associations or vice versa.
        run.stage(
            "associations",
            inserts=a_ins,
            deletes=a_del,
            delete_key=assoc_key_cols,
            updates=a_upd,
            update_key=assoc_key_cols,
        )

    return SpeciesLoadResult(
        resolved_dropped=dropped,
        resolution_metrics=res_metrics,
        picks=picks,
        verdicts=verdicts,
        inserted=inserts,
        deleted=all_deletes,
        downgraded=downgraded,
        assoc_verdicts=assoc_verdicts,
        orthologs_version=run.versions["orthologs"],
        associations_version=run.versions["associations"],
    )
