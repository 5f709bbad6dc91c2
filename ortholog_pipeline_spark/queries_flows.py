"""End-to-end FLOW queries: the three reference entry points (§3.1 --species,
§3.2 --agrOrthologs, §3.3 --fixXRefDataSet) plus the corpus-prep pipeline, each
run as the REAL plan (``plans/*``) against a synthetic world derived
deterministically from the driver's TPC-H tables, with a DuckDB oracle that
replays the full relational spec end-to-end.

Why: the operator-grain registry queries prove every operator; these prove the
COMPOSITION — reconcile ordering (OrthologRelationLoader.java:52-80 →
Dao.java:230-350), guard interaction, and snapshot algebra — which is where
order-of-reconciliation bugs hide (VERDICT r2 "Next round" item 1).

World derivation (both engines, same formulas — the planted-defect pattern the
operator queries already use):
  * human genes   = customer keys  (rgd_id 1000000+c), symbol 'H'||sym(c);
  * rat genes     = part keys      (rgd_id 2000000+p), symbol 'R'||p, with
    every 11th symbol lowercased-human ('h'||sym(p)) to exercise the W1/W3
    symbol-match tie-breaks.  sym(k) = k%500 + 500*(k//10M): the symbol
    space is PER-REPLICA-DISJOINT under tools/make_scaled_dir.py's
    10M-multiple key offsets (VERDICT r3 item 1 — a raw k%500 made all
    replicas collide onto the same 500 symbols, growing symbol groups
    linearly with replicas and the oracle's symbol-candidate join
    quadratically; composing the 10M block in keeps collision-group sizes
    constant at any replica count, and is the identity at the generated
    sfs where keys < 10M);
  * resolution-dim defects: c%31 unmatched, c%41 splice-excluded, c%53 multiple,
    p%23 withdrawn+replaced(p-22), p%29 withdrawn-unreplaced, p%37 allele;
  * relation stream = orders (src EGH<o_custkey>,
    dest EGR<1+(o_orderkey*7)%199 + 10M*(o_orderkey//10M)> — the dest pool is
    199 rat keys PER 10M replica block, so per-dest fan-in stays constant
    under scaled-dir replication, source HGNC/NCBI by o_orderkey%3, evidence
    vocab by o_orderkey%5);
  * seeded snapshots (orthologs A-E, agr F-G, associations H-K rows) derive
    from parts p<=300 and plant every verdict path: manual / manual-blocked,
    Alliance / alliance-blocked, MATCH / DELETE_EXISTING / DOWNGRADE / STALE,
    surplus rank>1, REQUIREMENT-2 last-row protection, ownership fences,
    J10 match/update/insert/delete and the J9 reverse-detach.

Canonical output excludes surrogate keys and timestamps (SURVEY.md §7), so
minted genetogene/assoc keys never enter the hash.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ortholog_pipeline_spark.queries import _t, register
from ortholog_pipeline_spark.sources.state import StateStore

HB, RB = 1000000, 2000000  # human / rat rgd-id bases
# tools/make_scaled_dir.py offsets every replica's keys by multiples of this;
# composing the block index into modular-derived world attributes keeps each
# replica's collision regime disjoint (identity for generated sfs, keys < 10M).
BLK = 10_000_000
TS0 = datetime(2020, 1, 1, 0, 0, 0)  # seed-snapshot stamp
RUN_TS = datetime(2024, 1, 2, 3, 4, 5)  # deterministic run timestamp (C11)

# ---------------------------------------------------------------------------
# shared SQL fragments (must mirror functions/strings.py exactly)
# ---------------------------------------------------------------------------

def _prio(c: str) -> str:
    """source_priority (strings.py:68): RGD=4 > Alliance/AGR=3 > HGNC=2 > NCBI=1."""
    return (
        f"CASE {c} WHEN 'RGD' THEN 4 WHEN 'Alliance' THEN 3 WHEN 'AGR' THEN 3 "
        f"WHEN 'HGNC' THEN 2 WHEN 'NCBI' THEN 1 ELSE 0 END"
    )


def _ev(c: str) -> str:
    """evidence_count (strings.py:36): commas+1, 0 for null/empty."""
    return (
        f"CASE WHEN {c} IS NULL OR len({c}) = 0 THEN 0 "
        f"ELSE len(string_split({c}, ',')) END"
    )


_HH = "1 + (p * 13) % 150"  # the seed rows' human partner for part p

# The synthetic world, as DuckDB CTEs (the Spark twin is _species_world below).
_WORLD_SQL = f"""
    hum AS (SELECT CAST(c_custkey AS INTEGER) AS c FROM customer),
    rat AS (SELECT CAST(p_partkey AS INTEGER) AS p FROM part),
    genes AS (
      SELECT {HB} + c AS rgd_id,
             'H' || CAST(c % 500 + 500 * (c // {BLK}) AS VARCHAR) AS gene_symbol,
             CASE WHEN c % 41 = 0 THEN 'splice' ELSE 'protein-coding' END AS gene_type_lc,
             1 AS species_type_key
      FROM hum
      UNION ALL
      SELECT {RB} + p,
             CASE WHEN p % 11 = 0 THEN 'h' || CAST(p % 500 + 500 * (p // {BLK}) AS VARCHAR)
                  ELSE 'R' || CAST(p AS VARCHAR) END,
             CASE WHEN p % 37 = 0 THEN 'allele' ELSE 'protein-coding' END,
             3
      FROM rat
    ),
    rgdids AS (
      SELECT {HB} + c AS rgd_id, 'ACTIVE' AS object_status,
             CAST(NULL AS INTEGER) AS replaced_by_rgd_id
      FROM hum
      UNION ALL
      SELECT {RB} + p,
             CASE WHEN p % 23 = 0 OR p % 29 = 0 THEN 'WITHDRAWN' ELSE 'ACTIVE' END,
             CASE WHEN p % 23 = 0 THEN {RB} + p - 22 ELSE NULL END
      FROM rat
    ),
    xr AS (
      SELECT 'EGH' || CAST(c AS VARCHAR) AS acc_id, {HB} + c AS rgd_id
      FROM hum WHERE c % 31 != 0
      UNION ALL
      SELECT 'EGH' || CAST(c AS VARCHAR), {HB} + c - 1 FROM hum WHERE c % 53 = 0
      UNION ALL
      SELECT 'EGR' || CAST(p AS VARCHAR), {RB} + p FROM rat
    ),
    seed_orth AS (
      SELECT CAST(p AS BIGINT) AS genetogene_key,
             {HB} + {_HH} AS src_rgd_id, {RB} + p AS dest_rgd_id,
             1 AS src_species_type_key, 3 AS dest_species_type_key,
             CASE WHEN p % 10 = 0 THEN 'RGD' WHEN p % 10 = 1 THEN 'Alliance'
                  WHEN p % 10 IN (2,3,4,5) THEN 'HGNC' ELSE 'NCBI' END AS xref_data_src,
             CASE p % 4 WHEN 0 THEN 'Ensembl' WHEN 1 THEN 'Ensembl, OrthoDB'
                  WHEN 2 THEN 'OrthoDB' ELSE 'Ensembl, OrthoDB, Panther' END AS xref_data_set,
             CASE WHEN p % 7 = 0 THEN 99 ELSE 70 END AS created_by
      FROM rat WHERE p <= 300
      UNION ALL
      SELECT 300000 + p, {HB} + {_HH}, {RB} + p + 1, 1, 3, 'NCBI', 'Ensembl', 70
      FROM rat WHERE p <= 300 AND p % 9 = 0
      UNION ALL
      SELECT 100000 + p, {HB} + {_HH}, {RB} + p + 2, 1, 3, 'RGD', NULL, 99
      FROM rat WHERE p <= 300 AND p % 100 = 0
      UNION ALL
      SELECT 400000 + p, {RB} + p, {HB} + {_HH}, 3, 1,
             CASE WHEN p % 12 = 0 THEN 'HGNC' ELSE 'NCBI' END, 'OrthoDB',
             CASE WHEN p % 18 = 0 THEN 99 ELSE 70 END
      FROM rat WHERE p <= 300 AND p % 6 = 0
      UNION ALL
      SELECT 600000 + p, {HB} + {_HH}, {RB} + p, 1, 3, 'NCBI', 'Ensembl', 70
      FROM rat WHERE p <= 300 AND p % 90 = 0
    ),
    seed_agr AS (
      SELECT {HB} + {_HH} AS gene_rgd_id_1, {RB} + p AS gene_rgd_id_2,
             'Y' AS is_best_score,
             CASE WHEN p % 16 = 0 THEN 'Y' ELSE 'N' END AS is_best_rev_score,
             CASE WHEN p % 24 = 0 THEN 'Ensembl Compara|InParanoid'
                  ELSE 'OrthoFinder' END AS methods_matched
      FROM rat WHERE p <= 200 AND p % 8 = 0
      UNION ALL
      SELECT {HB} + {_HH}, {RB} + p + 3, 'Y', 'Y', 'PANTHER'
      FROM rat WHERE p <= 200 AND p % 40 = 0
    ),
    seed_assoc AS (
      SELECT CAST(p AS BIGINT) AS assoc_key, 'weak_ortholog' AS assoc_type,
             CASE WHEN p % 10 = 0 AND p % 25 != 0 THEN 'Ensembl'
                  ELSE 'ensembl, orthodb' END AS assoc_subtype,
             {HB} + {_HH} AS master_rgd_id, {RB} + p AS detail_rgd_id,
             'ORTHOLOGS' AS src_pipeline
      FROM rat WHERE p <= 300 AND p % 5 = 0
      UNION ALL
      SELECT 500000 + p, 'weak_ortholog', 'OrthoDB', {RB} + p, {HB} + {_HH}, 'ORTHOLOGS'
      FROM rat WHERE p <= 300 AND p % 15 = 0
      UNION ALL
      SELECT 700000 + p, 'weak_ortholog', 'Panther', {HB} + {_HH}, {RB} + p + 5, 'ORTHOLOGS'
      FROM rat WHERE p <= 300 AND p % 21 = 0
      UNION ALL
      SELECT 800000 + p, 'homolog_note', 'note', {HB} + {_HH}, {RB} + p, 'ORTHOLOGS'
      FROM rat WHERE p <= 300 AND p % 55 = 0
    ),
    rel AS (
      SELECT 'EGH' || CAST(o_custkey AS VARCHAR) AS src_other_id,
             'EGR' || CAST(1 + (o_orderkey * 7) % 199
                           + {BLK} * (o_orderkey // {BLK}) AS VARCHAR) AS dest_other_id,
             CASE WHEN o_orderkey % 3 = 0 THEN 'NCBI' ELSE 'HGNC' END AS data_source,
             CASE o_orderkey % 5 WHEN 0 THEN 'Ensembl' WHEN 1 THEN 'OrthoDB'
                  WHEN 2 THEN 'Ensembl, OrthoDB' WHEN 3 THEN 'Panther'
                  ELSE 'Ensembl, Panther, TreeFam' END AS data_set_name
      FROM orders
      UNION ALL
      -- curated side-feed guaranteeing J10 match/update collisions with the
      -- seeded weak associations (same pairs as the p%25 H-seed rows)
      SELECT 'EGH' || CAST({_HH} AS VARCHAR), 'EGR' || CAST(p AS VARCHAR),
             'HGNC', 'Ensembl, OrthoDB'
      FROM rat WHERE p <= 199 AND p % 25 = 0
    )
"""

_SPECIES_FLOW_SQL = f"""
    WITH
    {_WORLD_SQL},
    -- J1 resolution dimension (operators/resolve.py:31)
    res_cand AS (
      SELECT x.acc_id, x.rgd_id, r.object_status,
             CASE WHEN ar.rgd_id IS NOT NULL THEN r.replaced_by_rgd_id END AS repl
      FROM xr x
      JOIN genes g ON g.rgd_id = x.rgd_id AND g.gene_type_lc NOT IN ('allele','splice')
      JOIN rgdids r ON r.rgd_id = x.rgd_id
      LEFT JOIN (SELECT rgd_id FROM rgdids WHERE object_status = 'ACTIVE') ar
             ON ar.rgd_id = r.replaced_by_rgd_id
    ),
    res_dim AS (
      SELECT acc_id,
             CASE WHEN n_active = 1 THEN active_rgd
                  WHEN n_active = 0 AND n_repl = 1 THEN repl_rgd END AS rgd_id
      FROM (
        SELECT acc_id,
               COUNT(CASE WHEN object_status = 'ACTIVE' THEN 1 END) AS n_active,
               MIN(CASE WHEN object_status = 'ACTIVE' THEN rgd_id END) AS active_rgd,
               COUNT(DISTINCT CASE WHEN object_status != 'ACTIVE' THEN repl END) AS n_repl,
               MIN(CASE WHEN object_status != 'ACTIVE' THEN repl END) AS repl_rgd
        FROM res_cand GROUP BY acc_id)
    ),
    resolved AS (
      SELECT sd.rgd_id AS src_rgd_id, dd.rgd_id AS dest_rgd_id,
             r.data_source, r.data_set_name
      FROM rel r
      LEFT JOIN res_dim sd ON sd.acc_id = r.src_other_id
      LEFT JOIN res_dim dd ON dd.acc_id = r.dest_other_id
      WHERE sd.rgd_id IS NOT NULL AND dd.rgd_id IS NOT NULL
    ),
    -- A2 dedup-merge (operators/grouping.py:27)
    merged AS (
      SELECT src_rgd_id, dest_rgd_id,
             CASE WHEN n_src = 1 THEN src_one ELSE 'HGNC' END AS data_source,
             CASE WHEN n_src = 2
                  THEN array_to_string(list_sort(list_distinct(
                         list_append(hgnc_ev, 'NCBI'))), ', ')
                  ELSE array_to_string(list_sort(all_ev), ', ') END AS data_set_name
      FROM (
        SELECT src_rgd_id, dest_rgd_id,
               COUNT(DISTINCT data_source) AS n_src,
               MIN(data_source) AS src_one,
               list_distinct(flatten(list(
                 CASE WHEN data_source = 'HGNC' THEN string_split(data_set_name, ', ')
                      ELSE []::VARCHAR[] END))) AS hgnc_ev,
               list_distinct(flatten(list(string_split(data_set_name, ', ')))) AS all_ev
        FROM resolved GROUP BY 1, 2)
    ),
    -- U4 complement closure (grouping.py:108)
    closed AS (
      SELECT src_rgd_id, dest_rgd_id, 1 AS src_sp, 3 AS dest_sp,
             data_source, data_set_name
      FROM merged
      UNION ALL
      SELECT dest_rgd_id, src_rgd_id, 3, 1, data_source, data_set_name FROM merged
    ),
    scope AS (
      SELECT * FROM seed_orth
      WHERE dest_species_type_key = 3 OR src_species_type_key = 3
    ),
    -- tier 1: manual (J3/F5, plans/species_load._snapshot_tiers)
    t_manual AS (
      SELECT src_rgd_id, dest_species_type_key, 1 AS tier,
             CASE WHEN COUNT(*) = 1 THEN MIN(dest_rgd_id) END AS dest_rgd_id,
             COUNT(*) > 1 AS blocked,
             'RGD' AS xref_data_src, CAST(NULL AS VARCHAR) AS xref_data_set
      FROM scope WHERE xref_data_src = 'RGD'
      GROUP BY 1, 2
    ),
    -- tier 2: Alliance mutual-best (J2/U2/F8, species_load._snapshot_tiers)
    t_alliance AS (
      SELECT u.src_rgd_id, g.species_type_key AS dest_species_type_key, 2 AS tier,
             CASE WHEN COUNT(*) = 1 THEN MIN(u.partner) END AS dest_rgd_id,
             COUNT(*) > 1 AS blocked,
             'Alliance' AS xref_data_src,
             CASE WHEN COUNT(*) = 1 THEN MIN(u.methods_matched) END AS xref_data_set
      FROM (
        SELECT gene_rgd_id_1 AS src_rgd_id, gene_rgd_id_2 AS partner, methods_matched
        FROM seed_agr WHERE is_best_score = 'Y' AND is_best_rev_score = 'Y'
        UNION ALL
        SELECT gene_rgd_id_2, gene_rgd_id_1, methods_matched
        FROM seed_agr WHERE is_best_score = 'Y' AND is_best_rev_score = 'Y'
      ) u JOIN genes g ON g.rgd_id = u.partner
      GROUP BY 1, 2
    ),
    -- tiers 3/4: per-source W1 best-fit (operators/bestfit.py:22 strict-max shape)
    wsyms AS (
      SELECT c.*, gs.gene_symbol AS src_sym, gd.gene_symbol AS dest_sym,
             {_ev('c.data_set_name')} AS ev
      FROM closed c
      LEFT JOIN genes gs ON gs.rgd_id = c.src_rgd_id
      LEFT JOIN genes gd ON gd.rgd_id = c.dest_rgd_id
    ),
    t_file AS (
      SELECT src_rgd_id, dest_sp AS dest_species_type_key,
             CASE data_source WHEN 'HGNC' THEN 3 ELSE 4 END AS tier,
             dest_rgd_id, FALSE AS blocked,
             data_source AS xref_data_src, data_set_name AS xref_data_set
      FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                 PARTITION BY src_rgd_id, dest_sp, data_source
                 ORDER BY CASE WHEN n_at_max = 1 THEN ev ELSE 0 END DESC,
                          pref DESC, lower(dest_sym) ASC NULLS LAST,
                          dest_rgd_id ASC) AS rn
        FROM (
          SELECT *,
                 SUM(CASE WHEN ev = ev_max THEN 1 ELSE 0 END) OVER (
                   PARTITION BY src_rgd_id, dest_sp, data_source) AS n_at_max,
                 CASE WHEN lower(dest_sym) = lower(src_sym) THEN 1 ELSE 0 END AS pref
          FROM (
            SELECT *, MAX(ev) OVER (
              PARTITION BY src_rgd_id, dest_sp, data_source) AS ev_max
            FROM wsyms)))
      WHERE rn = 1
    ),
    tiers AS (
      SELECT * FROM t_manual UNION ALL SELECT * FROM t_alliance
      UNION ALL SELECT * FROM t_file
    ),
    picks AS (
      SELECT src_rgd_id, dest_species_type_key, dest_rgd_id,
             xref_data_src, xref_data_set
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY src_rgd_id, dest_species_type_key
              ORDER BY tier ASC) AS crn
            FROM tiers)
      WHERE crn = 1 AND NOT blocked
    ),
    -- W3/W4 comparator rank over existing rows (species_load._rank_existing)
    ex_ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY src_rgd_id, dest_species_type_key
               ORDER BY {_prio('xref_data_src')} DESC,
                        {_ev('xref_data_set')} DESC,
                        CASE WHEN ex_dest_sym IS NOT DISTINCT FROM ex_src_sym
                             THEN 1 ELSE 0 END DESC,
                        ex_dest_sym DESC NULLS LAST,
                        genetogene_key ASC) AS rn
      FROM (
        SELECT s.*, lower(gs.gene_symbol) AS ex_src_sym,
               lower(gd.gene_symbol) AS ex_dest_sym
        FROM scope s
        LEFT JOIN genes gs ON gs.rgd_id = s.src_rgd_id
        LEFT JOIN genes gd ON gd.rgd_id = s.dest_rgd_id)
    ),
    -- J7 conflict verdicts (species_load._conflict_verdicts)
    conf AS (
      SELECT coalesce(p.src_rgd_id, e.src_rgd_id) AS src_rgd_id,
             coalesce(p.dest_species_type_key, e.dest_species_type_key)
               AS dest_species_type_key,
             p.dest_rgd_id AS pick_dest, p.xref_data_src, p.xref_data_set,
             e.genetogene_key AS ex_key,
             CASE WHEN e.dest_rgd_id IS NULL THEN 'INSERT'
                  WHEN p.dest_rgd_id IS NULL THEN 'STALE'
                  WHEN p.dest_rgd_id = e.dest_rgd_id THEN 'MATCH'
                  WHEN {_prio('p.xref_data_src')} * 1000 + {_ev('p.xref_data_set')}
                       > {_prio('e.xref_data_src')} * 1000 + {_ev('e.xref_data_set')}
                       THEN 'DELETE_EXISTING'
                  WHEN {_prio('p.xref_data_src')} * 1000 + {_ev('p.xref_data_set')}
                       < {_prio('e.xref_data_src')} * 1000 + {_ev('e.xref_data_set')}
                       THEN 'DOWNGRADE'
                  WHEN e.ex_dest_sym IS NOT DISTINCT FROM lower(gsp.gene_symbol)
                       THEN 'DOWNGRADE'
                  WHEN lower(gpd.gene_symbol) IS NOT DISTINCT FROM lower(gsp.gene_symbol)
                       THEN 'DELETE_EXISTING'
                  WHEN coalesce(lower(gpd.gene_symbol), '')
                       > coalesce(e.ex_dest_sym, '') THEN 'DELETE_EXISTING'
                  ELSE 'DOWNGRADE' END AS verdict
      FROM picks p
      FULL OUTER JOIN (SELECT * FROM ex_ranked WHERE rn = 1) e
        ON p.src_rgd_id = e.src_rgd_id
       AND p.dest_species_type_key = e.dest_species_type_key
      LEFT JOIN genes gpd ON gpd.rgd_id = p.dest_rgd_id
      LEFT JOIN genes gsp ON gsp.rgd_id = p.src_rgd_id
    ),
    ins AS (
      SELECT c.src_rgd_id, c.pick_dest AS dest_rgd_id, c.dest_species_type_key,
             c.xref_data_src, c.xref_data_set,
             g.species_type_key AS src_species_type_key
      FROM conf c JOIN genes g ON g.rgd_id = c.src_rgd_id
      WHERE c.verdict IN ('INSERT', 'DELETE_EXISTING')
    ),
    pick_keys AS (SELECT DISTINCT src_rgd_id, dest_species_type_key FROM picks),
    nopick AS (
      SELECT e.* FROM ex_ranked e
      ANTI JOIN pick_keys pk USING (src_rgd_id, dest_species_type_key)
    ),
    prot AS (
      SELECT src_rgd_id, dest_species_type_key, COUNT(*) AS n_prot
      FROM nopick
      WHERE NOT (created_by = 70 AND xref_data_src != 'RGD')
      GROUP BY 1, 2
    ),
    deletes0 AS (
      SELECT d.genetogene_key FROM (
        SELECT ex_key AS genetogene_key FROM conf WHERE verdict = 'DELETE_EXISTING'
        UNION ALL
        SELECT e.genetogene_key FROM ex_ranked e
        SEMI JOIN pick_keys pk USING (src_rgd_id, dest_species_type_key)
        WHERE e.rn > 1
        UNION ALL
        SELECT genetogene_key FROM (
          SELECT n.genetogene_key, coalesce(pr.n_prot, 0) AS n_prot,
                 ROW_NUMBER() OVER (
                   PARTITION BY n.src_rgd_id, n.dest_species_type_key
                   ORDER BY n.rn ASC) AS crn
          FROM nopick n
          LEFT JOIN prot pr USING (src_rgd_id, dest_species_type_key)
          WHERE n.created_by = 70 AND n.xref_data_src != 'RGD')
        WHERE n_prot > 0 OR crn > 1
      ) d
      ANTI JOIN (SELECT genetogene_key FROM scope WHERE xref_data_src = 'RGD') m
        USING (genetogene_key)
    ),
    -- W2 duplicate cleanup over the provisional snapshot (bestfit.py:118)
    prov AS (
      SELECT s.genetogene_key, s.src_rgd_id, s.dest_rgd_id,
             s.src_species_type_key, s.dest_species_type_key,
             s.xref_data_src, s.xref_data_set, s.created_by
      FROM seed_orth s ANTI JOIN deletes0 d USING (genetogene_key)
      UNION ALL
      SELECT 9000000000 + dest_rgd_id, src_rgd_id, dest_rgd_id,
             src_species_type_key, dest_species_type_key,
             xref_data_src, xref_data_set, 70
      FROM ins
    ),
    final_orth AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY src_rgd_id, dest_rgd_id
                 ORDER BY {_prio('xref_data_src')} DESC, genetogene_key ASC) AS rn2
        FROM prov)
      WHERE NOT (rn2 > 1 AND created_by = 70)
    ),
    -- weak associations (J5 + J10 + J9, species_load.run_species_load)
    weak_cand AS (
      SELECT master_rgd_id, detail_rgd_id, MIN(assoc_subtype) AS assoc_subtype
      FROM (
        SELECT src_rgd_id AS master_rgd_id, dest_rgd_id AS detail_rgd_id,
               data_set_name AS assoc_subtype
        FROM closed
        UNION ALL
        SELECT src_rgd_id, pick_dest, xref_data_set
        FROM conf WHERE verdict = 'DOWNGRADE')
      GROUP BY 1, 2
    ),
    weak AS (
      SELECT w.* FROM weak_cand w
      ANTI JOIN (SELECT DISTINCT src_rgd_id, dest_rgd_id FROM final_orth) s
        ON w.master_rgd_id = s.src_rgd_id AND w.detail_rgd_id = s.dest_rgd_id
    ),
    exw AS (
      SELECT * FROM seed_assoc
      WHERE assoc_type = 'weak_ortholog' AND src_pipeline = 'ORTHOLOGS'
    ),
    sync0 AS (
      SELECT coalesce(i.master_rgd_id, e.master_rgd_id) AS master_rgd_id,
             coalesce(i.detail_rgd_id, e.detail_rgd_id) AS detail_rgd_id,
             i.assoc_subtype AS inc_sub,
             CASE WHEN i.master_rgd_id IS NULL THEN 'delete'
                  WHEN e.master_rgd_id IS NULL THEN 'insert'
                  WHEN lower(i.assoc_subtype) IS NOT DISTINCT FROM lower(e.assoc_subtype)
                       THEN 'match'
                  ELSE 'update' END AS v
      FROM weak i FULL OUTER JOIN exw e
        ON i.master_rgd_id = e.master_rgd_id AND i.detail_rgd_id = e.detail_rgd_id
    ),
    del0 AS (SELECT master_rgd_id, detail_rgd_id FROM sync0 WHERE v = 'delete'),
    ins0 AS (SELECT master_rgd_id, detail_rgd_id, inc_sub FROM sync0 WHERE v = 'insert'),
    rev_del AS (
      SELECT DISTINCT detail_rgd_id AS master_rgd_id, master_rgd_id AS detail_rgd_id
      FROM del0
    ),
    kept_ins AS (
      SELECT i.* FROM ins0 i ANTI JOIN rev_del r USING (master_rgd_id, detail_rgd_id)
    ),
    cancelled AS (
      SELECT DISTINCT i.detail_rgd_id AS master_rgd_id,
             i.master_rgd_id AS detail_rgd_id
      FROM ins0 i SEMI JOIN rev_del r USING (master_rgd_id, detail_rgd_id)
    ),
    kept_del AS (
      SELECT d.* FROM del0 d ANTI JOIN cancelled c USING (master_rgd_id, detail_rgd_id)
    ),
    upd AS (SELECT master_rgd_id, detail_rgd_id, inc_sub FROM sync0 WHERE v = 'update'),
    surv AS (
      SELECT a.assoc_type,
             CASE WHEN u.master_rgd_id IS NOT NULL
                       AND a.assoc_type = 'weak_ortholog'
                       AND a.src_pipeline = 'ORTHOLOGS'
                  THEN u.inc_sub ELSE a.assoc_subtype END AS assoc_subtype,
             a.master_rgd_id, a.detail_rgd_id, a.src_pipeline
      FROM (
        SELECT a0.* FROM seed_assoc a0
        ANTI JOIN kept_del d
          ON a0.master_rgd_id = d.master_rgd_id
         AND a0.detail_rgd_id = d.detail_rgd_id
         AND a0.assoc_type = 'weak_ortholog'
         AND a0.src_pipeline = 'ORTHOLOGS') a
      LEFT JOIN upd u
        ON a.master_rgd_id = u.master_rgd_id
       AND a.detail_rgd_id = u.detail_rgd_id
       AND a.assoc_type = 'weak_ortholog'
       AND a.src_pipeline = 'ORTHOLOGS'
    ),
    final_assoc AS (
      SELECT * FROM surv
      UNION ALL
      SELECT 'weak_ortholog', inc_sub, master_rgd_id, detail_rgd_id, 'ORTHOLOGS'
      FROM kept_ins
    )
    SELECT 'orthologs' AS tbl, src_rgd_id AS id_a, dest_rgd_id AS id_b,
           src_species_type_key AS species_a, dest_species_type_key AS species_b,
           xref_data_src AS src, xref_data_set AS evidence,
           created_by AS owner, CAST(NULL AS VARCHAR) AS assoc_type
    FROM final_orth
    UNION ALL
    SELECT 'associations', master_rgd_id, detail_rgd_id,
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           src_pipeline, assoc_subtype, CAST(NULL AS INTEGER), assoc_type
    FROM final_assoc
"""



def _part_bounded(spark: SparkSession, sf_dir: str, bound: int | None = None):
    """Part keys as int ``p``, with the seed bound applied to the RAW column
    BEFORE the cast: a filter on cast(p_partkey) does not push to the parquet
    scan (verified via explain — only IsNotNull reached PushedFilters), so at
    scale every seed frame would re-scan the whole table. Filtering first
    pushes ``p_partkey <= bound`` into the scan; the cast then renames."""
    df = _t(spark, sf_dir, "part")
    if bound is not None:
        df = df.filter(F.col("p_partkey") <= bound)
    return df.select(F.col("p_partkey").cast("int").alias("p"))


def _species_world(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The Spark twin of _WORLD_SQL — same formulas over the same tables."""
    c = F.col("c")
    p = F.col("p")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("int").alias("c")
    )
    part = _part_bounded(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    hh = (F.lit(1) + (p * 13) % 150).cast("int")

    hgene = cust.select(
        (HB + c).cast("int").alias("rgd_id"),
        F.concat(F.lit("H"), (c % 500 + 500 * F.floor(c / BLK)).cast("string")).alias(
            "gene_symbol"
        ),
        F.when(c % 41 == 0, "splice").otherwise("protein-coding").alias("gene_type_lc"),
        F.lit(None).cast("string").alias("ensembl_gene_symbol"),
        F.lit(1).cast("int").alias("species_type_key"),
    )
    rgene = part.select(
        (RB + p).cast("int").alias("rgd_id"),
        F.when(
            p % 11 == 0,
            F.concat(F.lit("h"), (p % 500 + 500 * F.floor(p / BLK)).cast("string")),
        )
        .otherwise(F.concat(F.lit("R"), p.cast("string")))
        .alias("gene_symbol"),
        F.when(p % 37 == 0, "allele").otherwise("protein-coding").alias("gene_type_lc"),
        F.lit(None).cast("string").alias("ensembl_gene_symbol"),
        F.lit(3).cast("int").alias("species_type_key"),
    )
    genes = hgene.unionByName(rgene)

    h_ids = cust.select(
        (HB + c).cast("int").alias("rgd_id"),
        F.lit("ACTIVE").alias("object_status"),
        F.lit(1).cast("int").alias("species_type_key"),
        F.lit(1).cast("int").alias("object_key"),
        F.lit(None).cast("int").alias("replaced_by_rgd_id"),
    )
    r_ids = part.select(
        (RB + p).cast("int").alias("rgd_id"),
        F.when((p % 23 == 0) | (p % 29 == 0), "WITHDRAWN")
        .otherwise("ACTIVE")
        .alias("object_status"),
        F.lit(3).cast("int").alias("species_type_key"),
        F.lit(1).cast("int").alias("object_key"),
        F.when(p % 23 == 0, (RB + p - 22).cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("replaced_by_rgd_id"),
    )
    rgd_ids = h_ids.unionByName(r_ids)

    ts0 = F.lit(TS0)

    def _xref(rid, acc, key):
        return [
            key.cast("int").alias("acc_xdb_key"),
            rid.cast("int").alias("rgd_id"),
            acc.alias("acc_id"),
            F.lit(3).cast("int").alias("xdb_key"),
            F.lit("ENTREZGENE").alias("src_pipeline"),
            ts0.alias("modification_date"),
        ]

    xh = cust.filter(c % 31 != 0).select(
        *_xref(HB + c, F.concat(F.lit("EGH"), c.cast("string")), c)
    )
    xh2 = cust.filter(c % 53 == 0).select(
        *_xref(HB + c - 1, F.concat(F.lit("EGH"), c.cast("string")), 400000 + c)
    )
    xrr = part.select(
        *_xref(RB + p, F.concat(F.lit("EGR"), p.cast("string")), 800000 + p)
    )
    xrefs = xh.unionByName(xh2).unionByName(xrr)

    def _orth(key, src, dest, ssp, dsp, xsrc, xset, cb):
        return [
            key.cast("long").alias("genetogene_key"),
            src.cast("int").alias("src_rgd_id"),
            dest.cast("int").alias("dest_rgd_id"),
            F.lit(ssp).cast("int").alias("src_species_type_key"),
            F.lit(dsp).cast("int").alias("dest_species_type_key"),
            F.lit(None).cast("int").alias("group_id"),
            xsrc.alias("xref_data_src"),
            xset.alias("xref_data_set"),
            F.lit(11).cast("int").alias("ortholog_type_key"),
            F.lit(None).cast("double").alias("percent_homology"),
            cb.cast("int").alias("created_by"),
            ts0.alias("created_date"),
            cb.cast("int").alias("last_modified_by"),
            ts0.alias("last_modified_date"),
        ]

    p300 = _part_bounded(spark, sf_dir, 300)
    oa = p300.select(
        *_orth(
            p, HB + hh, RB + p, 1, 3,
            F.when(p % 10 == 0, "RGD")
            .when(p % 10 == 1, "Alliance")
            .when((p % 10).isin(2, 3, 4, 5), "HGNC")
            .otherwise("NCBI"),
            F.when(p % 4 == 0, "Ensembl")
            .when(p % 4 == 1, "Ensembl, OrthoDB")
            .when(p % 4 == 2, "OrthoDB")
            .otherwise("Ensembl, OrthoDB, Panther"),
            F.when(p % 7 == 0, F.lit(99)).otherwise(F.lit(70)),
        )
    )
    ob = p300.filter(p % 9 == 0).select(
        *_orth(300000 + p, HB + hh, RB + p + 1, 1, 3, F.lit("NCBI"),
               F.lit("Ensembl"), F.lit(70))
    )
    oc = p300.filter(p % 100 == 0).select(
        *_orth(100000 + p, HB + hh, RB + p + 2, 1, 3, F.lit("RGD"),
               F.lit(None).cast("string"), F.lit(99))
    )
    od = p300.filter(p % 6 == 0).select(
        *_orth(
            400000 + p, RB + p, HB + hh, 3, 1,
            F.when(p % 12 == 0, "HGNC").otherwise("NCBI"),
            F.lit("OrthoDB"),
            F.when(p % 18 == 0, F.lit(99)).otherwise(F.lit(70)),
        )
    )
    oe = p300.filter(p % 90 == 0).select(
        *_orth(600000 + p, HB + hh, RB + p, 1, 3, F.lit("NCBI"),
               F.lit("Ensembl"), F.lit(70))
    )
    orthologs = oa.unionByName(ob).unionByName(oc).unionByName(od).unionByName(oe)

    p200 = _part_bounded(spark, sf_dir, 200)
    agr_f = p200.filter(p % 8 == 0).select(
        (HB + hh).cast("int").alias("gene_rgd_id_1"),
        (RB + p).cast("int").alias("gene_rgd_id_2"),
        F.lit("stringent").alias("confidence"),
        F.lit("Y").alias("is_best_score"),
        F.when(p % 16 == 0, "Y").otherwise("N").alias("is_best_rev_score"),
        F.when(p % 24 == 0, "Ensembl Compara|InParanoid")
        .otherwise("OrthoFinder")
        .alias("methods_matched"),
        ts0.alias("created_date"),
        ts0.alias("last_update_date"),
    )
    agr_g = p200.filter(p % 40 == 0).select(
        (HB + hh).cast("int").alias("gene_rgd_id_1"),
        (RB + p + 3).cast("int").alias("gene_rgd_id_2"),
        F.lit("stringent").alias("confidence"),
        F.lit("Y").alias("is_best_score"),
        F.lit("Y").alias("is_best_rev_score"),
        F.lit("PANTHER").alias("methods_matched"),
        ts0.alias("created_date"),
        ts0.alias("last_update_date"),
    )
    agr = agr_f.unionByName(agr_g)

    def _assoc(key, atype, sub, master, detail):
        return [
            key.cast("long").alias("assoc_key"),
            atype.alias("assoc_type"),
            sub.alias("assoc_subtype"),
            master.cast("int").alias("master_rgd_id"),
            detail.cast("int").alias("detail_rgd_id"),
            ts0.alias("creation_date"),
            F.lit("ORTHOLOGS").alias("src_pipeline"),
        ]

    ah = p300.filter(p % 5 == 0).select(
        *_assoc(
            p, F.lit("weak_ortholog"),
            F.when((p % 10 == 0) & (p % 25 != 0), "Ensembl").otherwise(
                "ensembl, orthodb"
            ),
            HB + hh, RB + p,
        )
    )
    ai = p300.filter(p % 15 == 0).select(
        *_assoc(500000 + p, F.lit("weak_ortholog"), F.lit("OrthoDB"),
                RB + p, HB + hh)
    )
    aj = p300.filter(p % 21 == 0).select(
        *_assoc(700000 + p, F.lit("weak_ortholog"), F.lit("Panther"),
                HB + hh, RB + p + 5)
    )
    ak = p300.filter(p % 55 == 0).select(
        *_assoc(800000 + p, F.lit("homolog_note"), F.lit("note"),
                HB + hh, RB + p)
    )
    associations = ah.unionByName(ai).unionByName(aj).unionByName(ak)

    ok = F.col("o_orderkey")
    relations = orders.select(
        F.concat(F.lit("EGH"), F.col("o_custkey").cast("string")).alias("src_other_id"),
        F.concat(
            F.lit("EGR"),
            (1 + (ok * 7) % 199 + BLK * F.floor(ok / BLK)).cast("long").cast("string"),
        ).alias("dest_other_id"),
        F.lit(1).cast("int").alias("src_species_type_key"),
        F.lit(3).cast("int").alias("dest_species_type_key"),
        F.when(ok % 3 == 0, "NCBI").otherwise("HGNC").alias("data_source"),
        F.when(ok % 5 == 0, "Ensembl")
        .when(ok % 5 == 1, "OrthoDB")
        .when(ok % 5 == 2, "Ensembl, OrthoDB")
        .when(ok % 5 == 3, "Panther")
        .otherwise("Ensembl, Panther, TreeFam")
        .alias("data_set_name"),
    )
    curated = _part_bounded(spark, sf_dir, 199).filter(p % 25 == 0).select(
        F.concat(F.lit("EGH"), hh.cast("string")).alias("src_other_id"),
        F.concat(F.lit("EGR"), p.cast("string")).alias("dest_other_id"),
        F.lit(1).cast("int").alias("src_species_type_key"),
        F.lit(3).cast("int").alias("dest_species_type_key"),
        F.lit("HGNC").alias("data_source"),
        F.lit("Ensembl, OrthoDB").alias("data_set_name"),
    )
    relations = relations.unionByName(curated)

    return {
        "genes": genes,
        "rgd_ids": rgd_ids,
        "xrefs": xrefs,
        "orthologs": orthologs,
        "associations": associations,
        "agr_orthologs": agr,
        "relations": relations,
    }


#: seeded-prototype cache: world snapshots are pure functions of (flow, sf_dir),
#: so the Spark write that seeds them needs to run once per process — every
#: later invocation HARDLINK-CLONES the prototype (file-metadata ops only).
#: Snapshot files are immutable (writes make new version dirs; vacuum unlinks,
#: which never disturbs the prototype's links), so clones are isolated.
_SEED_PROTOTYPES: dict[str, str] = {}


def _clone_tree_hardlink(src: str, dst: str) -> None:
    for root, dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(troot, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(troot, f)
            try:
                os.link(s, d)
            except OSError:  # cross-device TMPDIR / FS without hardlinks
                shutil.copy2(s, d)


#: The production store's partition layouts (orthologs pruned by dest species).
_LAYOUTS = {"orthologs": ["dest_species_type_key"]}


def _seed_store(
    spark: SparkSession,
    world: dict[str, DataFrame],
    prefix: str,
    cache_key: str | None = None,
) -> StateStore:
    """Seed a fresh StateStore from the world's snapshot frames. With
    ``cache_key`` (flow + sf_dir), the seeding Spark writes run once per
    process; repeat invocations clone the seeded prototype via hardlinks so
    the flow entry's steady-state cost measures the PLAN, not fixture setup."""
    if cache_key is not None:
        proto = _SEED_PROTOTYPES.get(cache_key)
        if proto is None or not os.path.isdir(proto):
            proto_store = _seed_store(spark, world, prefix + "proto_")
            proto = proto_store.root
            _SEED_PROTOTYPES[cache_key] = proto
        dst = tempfile.mkdtemp(prefix=prefix)
        _clone_tree_hardlink(proto, dst)
        return StateStore(spark, dst)
    store = StateStore(spark, tempfile.mkdtemp(prefix=prefix))
    for t in ("genes", "rgd_ids", "xrefs", "orthologs", "associations", "agr_orthologs"):
        if t in world:
            store.write(t, world[t], partition_by=_LAYOUTS.get(t))
    return store


def _materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    """Mark the named CTEs ``AS MATERIALIZED`` (DuckDB/Postgres hint, identical
    results). DuckDB 1.0 INLINES every CTE reference as a subquery, so in a
    deep DAG the expansion is multiplicative along the fan-outs — the species
    replay references ``genes`` 9× and ``rat`` 15×, and each ``conf``/``weak``/
    ``sync0`` reference re-expands the whole parse→resolve→merge chain beneath
    it. At the generated sfs the waste is tolerable; at the ~sf1 scaled dir the
    concurrent copies exceeded DuckDB's 100 GiB budget in under 3 minutes
    (measured twice). Materializing each multi-referenced CTE bounds the replay
    at the SUM of CTE sizes instead of the product of the reference tree.

    Each substitution is ASSERTED to land exactly once: a silent no-op on a
    drifted CTE name would quietly drop the hint and reintroduce the >100 GiB
    inlining blow-up at ~sf1 — fail at import time instead."""
    for n in names:
        sql, n_sub = re.subn(rf"(?<=\W){n} AS \(", f"{n} AS MATERIALIZED (", sql, count=1)
        if n_sub != 1:
            raise ValueError(
                f"_materialize_ctes: CTE {n!r} not found in SQL (renamed or removed?)"
            )
    return sql


#: every multi-referenced CTE in _SPECIES_FLOW_SQL (single-referenced ones
#: stream better inlined)
_SPECIES_MULTI_REF_CTES = (
    "hum", "rat", "genes", "rgdids", "seed_orth", "seed_agr", "seed_assoc",
    "res_dim", "merged", "closed", "scope", "tiers", "picks", "ex_ranked",
    "conf", "pick_keys", "nopick", "final_orth", "weak", "sync0", "del0",
    "ins0", "rev_del",
)


@register(
    "flow_species_load",
    _materialize_ctes(_SPECIES_FLOW_SQL, _SPECIES_MULTI_REF_CTES),
)
def flow_species_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 --species end-to-end: seed the state store from the synthetic world,
    run the REAL run_species_load plan (J1 resolve → A2 merge → U4 closure →
    4-tier cascade → W1 → J7 verdicts → deletes w/ REQUIREMENT-2 + ownership
    fences → W2 cleanup → J5/J10/J9 association sync), then return the
    canonicalized final orthologs+associations snapshots (surrogate keys and
    timestamps excluded). The oracle replays the identical relational spec
    end-to-end in SQL. delete_threshold_pct=95 because the synthetic world
    deliberately plants far more churn than the reference's 10%% cap."""
    from ortholog_pipeline_spark.plans.species_load import run_species_load

    world = _species_world(spark, sf_dir)
    store = _seed_store(spark, world, "flow_species_", cache_key=f"species:{sf_dir}")
    run_species_load(
        store, world["relations"], RUN_TS,
        dest_species_type_key=3, delete_threshold_pct=95.0,
    )
    orth = store.read("orthologs")
    assoc = store.read("associations")
    o_out = orth.select(
        F.lit("orthologs").alias("tbl"),
        F.col("src_rgd_id").alias("id_a"),
        F.col("dest_rgd_id").alias("id_b"),
        F.col("src_species_type_key").alias("species_a"),
        F.col("dest_species_type_key").alias("species_b"),
        F.col("xref_data_src").alias("src"),
        F.col("xref_data_set").alias("evidence"),
        F.col("created_by").alias("owner"),
        F.lit(None).cast("string").alias("assoc_type"),
    )
    a_out = assoc.select(
        F.lit("associations").alias("tbl"),
        F.col("master_rgd_id").alias("id_a"),
        F.col("detail_rgd_id").alias("id_b"),
        F.lit(None).cast("int").alias("species_a"),
        F.lit(None).cast("int").alias("species_b"),
        F.col("src_pipeline").alias("src"),
        F.col("assoc_subtype").alias("evidence"),
        F.lit(None).cast("int").alias("owner"),
        F.col("assoc_type"),
    )
    return o_out.unionByName(a_out)


# ---------------------------------------------------------------------------
# flow_agr_load — §3.2 --agrOrthologs end to end
# ---------------------------------------------------------------------------

_HH3 = "1 + (p * 7) % 150"  # the agr seed rows' human partner

_AGR_FLOW_SQL = f"""
    WITH
    hum2 AS (SELECT CAST(c_custkey AS INTEGER) AS c FROM customer),
    rat2 AS (SELECT CAST(p_partkey AS INTEGER) AS p FROM part),
    curie_map AS (
      SELECT 'AGR:H' || CAST(c AS VARCHAR) AS acc_id, {HB} + c AS rgd_id
      FROM hum2 WHERE c % 13 != 0
      UNION ALL
      SELECT 'AGR:R' || CAST(p AS VARCHAR), {RB} + p FROM rat2 WHERE p % 17 != 0
    ),
    symdim AS (
      SELECT 'ha' || CAST(c AS VARCHAR) AS sym, 1 AS sp, {HB} + c AS rgd_id FROM hum2
      UNION ALL
      SELECT 'ra' || CAST(p AS VARCHAR), 3, {RB} + p FROM rat2
    ),
    raw AS (
      SELECT CASE WHEN o_orderkey % 23 = 0
                  THEN 'RGD:' || CAST({HB} + o_custkey AS VARCHAR)
                  ELSE 'AGR:H' || CAST(o_custkey AS VARCHAR) END AS g1_id,
             lower(CASE WHEN o_custkey % 13 = 0
                  THEN 'HAX' || CAST(o_custkey AS VARCHAR)
                  ELSE 'HA' || CAST(o_custkey AS VARCHAR) END) AS g1_sym_lc,
             CASE WHEN o_orderkey % 19 = 0 THEN CAST(NULL AS INTEGER)
                  WHEN o_orderkey % 11 = 0 THEN 8 ELSE 3 END AS sp2,
             CASE WHEN o_orderkey % 19 = 0
                  THEN 'AGR:X' || CAST(1 + o_orderkey % 173 AS VARCHAR)
                  WHEN o_orderkey % 11 = 0
                  THEN 'AGR:Z' || CAST(o_orderkey % 97 AS VARCHAR)
                  ELSE 'AGR:R' || CAST(1 + o_orderkey % 173 AS VARCHAR) END AS g2_id,
             lower(CASE WHEN o_orderkey % 19 = 0 THEN 'XX'
                  WHEN o_orderkey % 11 = 0 THEN 'ZF' || CAST(o_orderkey % 97 AS VARCHAR)
                  ELSE 'RA' || CAST(1 + o_orderkey % 173 AS VARCHAR) END) AS g2_sym_lc,
             CASE o_orderkey % 4 WHEN 0 THEN 'Ensembl Compara|OrthoInspector|ZFIN'
                  WHEN 1 THEN 'Ensembl Compara|ZFIN' WHEN 2 THEN 'PANTHER'
                  ELSE 'OrthoFinder' END AS methods,
             CASE WHEN o_orderkey % 2 = 0 THEN 'Y' ELSE 'N' END AS bs,
             CASE WHEN o_orderkey % 5 = 0 THEN 'Y' ELSE 'N' END AS brs
      FROM orders
      UNION ALL
      SELECT 'AGR:H' || CAST({_HH3} AS VARCHAR), 'ha' || CAST({_HH3} AS VARCHAR),
             3, 'AGR:R' || CAST(p AS VARCHAR), 'ra' || CAST(p AS VARCHAR),
             'OrthoFinder', 'Y', CASE WHEN p % 60 = 0 THEN 'Y' ELSE 'N' END
      FROM rat2 WHERE p <= 173 AND p % 30 = 0
    ),
    flt AS (SELECT * FROM raw WHERE sp2 IS NOT NULL),
    res AS (
      SELECT f.*,
             COALESCE(c1.rgd_id,
                      TRY_CAST(regexp_extract(f.g1_id, '^RGD:(\\d+)$', 1) AS INTEGER),
                      s1.rgd_id) AS id1,
             COALESCE(c2.rgd_id,
                      TRY_CAST(regexp_extract(f.g2_id, '^RGD:(\\d+)$', 1) AS INTEGER),
                      s2.rgd_id) AS id2
      FROM flt f
      LEFT JOIN curie_map c1 ON c1.acc_id = f.g1_id
      LEFT JOIN curie_map c2 ON c2.acc_id = f.g2_id
      LEFT JOIN symdim s1 ON s1.sym = f.g1_sym_lc AND s1.sp = 1
      LEFT JOIN symdim s2 ON s2.sym = f.g2_sym_lc AND s2.sp = f.sp2
    ),
    keyed AS (
      SELECT *,
             CASE WHEN id1 IS NOT NULL THEN 'ID:' || CAST(id1 AS VARCHAR) END AS key1,
             CASE WHEN id2 IS NOT NULL THEN 'ID:' || CAST(id2 AS VARCHAR)
                  WHEN sp2 = 8 THEN 'MINT:' || g2_id END AS key2
      FROM res
    ),
    incoming AS (
      SELECT key1, key2, methods,
             MIN('stringent') AS confidence, MAX(bs) AS bs, MAX(brs) AS brs
      FROM keyed WHERE key1 IS NOT NULL AND key2 IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    seedk AS (
      SELECT 'ID:' || CAST({HB} + {_HH3} AS VARCHAR) AS key1,
             'ID:' || CAST({RB} + p AS VARCHAR) AS key2,
             'OrthoFinder' AS methods, 'stringent' AS confidence,
             CASE WHEN p % 6 = 0 THEN 'Y' ELSE 'N' END AS bs, 'N' AS brs
      FROM rat2 WHERE p <= 400 AND p % 3 = 0
    ),
    counts AS (
      SELECT
        (SELECT COUNT(*) FROM incoming i
          ANTI JOIN seedk s USING (key1, key2, methods)) AS n_ins,
        (SELECT COUNT(*) FROM incoming i JOIN seedk s USING (key1, key2, methods)
          WHERE NOT (lower(i.confidence) IS NOT DISTINCT FROM lower(s.confidence)
                     AND lower(i.bs) IS NOT DISTINCT FROM lower(s.bs)
                     AND lower(i.brs) IS NOT DISTINCT FROM lower(s.brs))) AS n_upd,
        (SELECT COUNT(*) FROM seedk s
          ANTI JOIN incoming i USING (key1, key2, methods)) AS n_stale
    )
    SELECT
      CASE WHEN (CAST(substr(key1, 4) AS INTEGER) - {HB}) % 13 != 0
           THEN 'AGR:H' || CAST(CAST(substr(key1, 4) AS INTEGER) - {HB} AS VARCHAR)
           ELSE 'RGD#' || substr(key1, 4) END AS label_1,
      CASE WHEN key2 LIKE 'MINT:%' THEN substr(key2, 6)
           WHEN (CAST(substr(key2, 4) AS INTEGER) - {RB}) % 17 != 0
           THEN 'AGR:R' || CAST(CAST(substr(key2, 4) AS INTEGER) - {RB} AS VARCHAR)
           ELSE 'RGD#' || substr(key2, 4) END AS label_2,
      confidence, bs AS is_best_score, brs AS is_best_rev_score,
      methods AS methods_matched
    FROM incoming
    UNION ALL
    SELECT '#metrics', NULL, NULL, NULL, NULL,
           'ins=' || CAST(n_ins AS VARCHAR) || '|upd=' || CAST(n_upd AS VARCHAR)
           || '|stale=' || CAST(n_stale AS VARCHAR)
    FROM counts
"""


def _agr_world(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    c = F.col("c")
    p = F.col("p")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("int").alias("c")
    )
    part = _part_bounded(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    hh3 = (F.lit(1) + (p * 7) % 150).cast("int")
    ts0 = F.lit(TS0)

    genes = cust.select(
        (HB + c).cast("int").alias("rgd_id"),
        F.concat(F.lit("HA"), c.cast("string")).alias("gene_symbol"),
        F.lit("protein-coding").alias("gene_type_lc"),
        F.lit(None).cast("string").alias("ensembl_gene_symbol"),
        F.lit(1).cast("int").alias("species_type_key"),
    ).unionByName(
        part.select(
            (RB + p).cast("int").alias("rgd_id"),
            F.concat(F.lit("RA"), p.cast("string")).alias("gene_symbol"),
            F.lit("protein-coding").alias("gene_type_lc"),
            F.lit(None).cast("string").alias("ensembl_gene_symbol"),
            F.lit(3).cast("int").alias("species_type_key"),
        )
    )
    rgd_ids = cust.select(
        (HB + c).cast("int").alias("rgd_id"),
        F.lit("ACTIVE").alias("object_status"),
        F.lit(1).cast("int").alias("species_type_key"),
        F.lit(1).cast("int").alias("object_key"),
        F.lit(None).cast("int").alias("replaced_by_rgd_id"),
    ).unionByName(
        part.select(
            (RB + p).cast("int").alias("rgd_id"),
            F.lit("ACTIVE").alias("object_status"),
            F.lit(3).cast("int").alias("species_type_key"),
            F.lit(1).cast("int").alias("object_key"),
            F.lit(None).cast("int").alias("replaced_by_rgd_id"),
        )
    )

    def _xref63(rid, acc, key):
        return [
            key.cast("int").alias("acc_xdb_key"),
            rid.cast("int").alias("rgd_id"),
            acc.alias("acc_id"),
            F.lit(63).cast("int").alias("xdb_key"),
            F.lit("AGR").alias("src_pipeline"),
            ts0.alias("modification_date"),
        ]

    xrefs = cust.filter(c % 13 != 0).select(
        *_xref63(HB + c, F.concat(F.lit("AGR:H"), c.cast("string")), c)
    ).unionByName(
        part.filter(p % 17 != 0).select(
            *_xref63(RB + p, F.concat(F.lit("AGR:R"), p.cast("string")), 800000 + p)
        )
    )

    agr = _part_bounded(spark, sf_dir, 400).filter(p % 3 == 0).select(
        (HB + hh3).cast("int").alias("gene_rgd_id_1"),
        (RB + p).cast("int").alias("gene_rgd_id_2"),
        F.lit("stringent").alias("confidence"),
        F.when(p % 6 == 0, "Y").otherwise("N").alias("is_best_score"),
        F.lit("N").alias("is_best_rev_score"),
        F.lit("OrthoFinder").alias("methods_matched"),
        ts0.alias("created_date"),
        ts0.alias("last_update_date"),
    )

    ok = F.col("o_orderkey")
    ck = F.col("o_custkey")
    dp = (1 + ok % 173).cast("string")
    lines = orders.select(
        F.when(
            ok % 23 == 0, F.concat(F.lit("RGD:"), (HB + ck).cast("string"))
        ).otherwise(F.concat(F.lit("AGR:H"), ck.cast("string"))).alias("gene1_id"),
        F.when(ck % 13 == 0, F.concat(F.lit("HAX"), ck.cast("string")))
        .otherwise(F.concat(F.lit("HA"), ck.cast("string")))
        .alias("gene1_symbol"),
        F.lit("NCBITaxon:9606").alias("gene1_species_taxon_id"),
        F.lit("Homo sapiens").alias("gene1_species_name"),
        F.when(ok % 19 == 0, F.concat(F.lit("AGR:X"), dp))
        .when(ok % 11 == 0, F.concat(F.lit("AGR:Z"), (ok % 97).cast("string")))
        .otherwise(F.concat(F.lit("AGR:R"), dp))
        .alias("gene2_id"),
        F.when(ok % 19 == 0, F.lit("XX"))
        .when(ok % 11 == 0, F.concat(F.lit("ZF"), (ok % 97).cast("string")))
        .otherwise(F.concat(F.lit("RA"), dp))
        .alias("gene2_symbol"),
        F.when(ok % 19 == 0, "NCBITaxon:9986")
        .when(ok % 11 == 0, "NCBITaxon:7955")
        .otherwise("NCBITaxon:10116")
        .alias("gene2_species_taxon_id"),
        F.lit("x").alias("gene2_species_name"),
        F.when(ok % 4 == 0, "ZFIN|Ensembl Compara|OrthoInspector")
        .when(ok % 4 == 1, "Ensembl Compara|ZFIN|Ensembl Compara")
        .when(ok % 4 == 2, "PANTHER")
        .otherwise("OrthoFinder")
        .alias("algorithms"),
        F.lit("3").alias("algorithms_match"),
        F.lit("10").alias("out_of_algorithms"),
        F.when(ok % 2 == 0, "Yes").otherwise("No").alias("is_best_score"),
        F.when(ok % 5 == 0, "Yes").otherwise("No").alias("is_best_rev_score"),
    )
    curated = _part_bounded(spark, sf_dir, 173).filter(p % 30 == 0).select(
        F.concat(F.lit("AGR:H"), hh3.cast("string")).alias("gene1_id"),
        F.concat(F.lit("HA"), hh3.cast("string")).alias("gene1_symbol"),
        F.lit("NCBITaxon:9606").alias("gene1_species_taxon_id"),
        F.lit("Homo sapiens").alias("gene1_species_name"),
        F.concat(F.lit("AGR:R"), p.cast("string")).alias("gene2_id"),
        F.concat(F.lit("RA"), p.cast("string")).alias("gene2_symbol"),
        F.lit("NCBITaxon:10116").alias("gene2_species_taxon_id"),
        F.lit("x").alias("gene2_species_name"),
        F.lit("OrthoFinder").alias("algorithms"),
        F.lit("3").alias("algorithms_match"),
        F.lit("10").alias("out_of_algorithms"),
        F.lit("Yes").alias("is_best_score"),
        F.when(p % 60 == 0, "Yes").otherwise("No").alias("is_best_rev_score"),
    )
    return {
        "genes": genes,
        "rgd_ids": rgd_ids,
        "xrefs": xrefs,
        "agr_orthologs": agr,
        "lines": lines.unionByName(curated),
    }


@register("flow_agr_load", _AGR_FLOW_SQL)
def flow_agr_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 --agrOrthologs end-to-end: species filter + recodes → 3-step curie
    resolution cascade (curie xref → RGD: suffix → symbol-in-species) → S13
    minting for unresolvable non-rat/mouse/human genes → deterministic
    flag-merge → S12 upsert on the 3-col key → guarded stale deletion.

    Because the upsert replaces content for every touched key and stale rows
    are deleted, the final snapshot equals the incoming set — the oracle
    replays parse+resolution+merge and checks (a) the full final snapshot in
    curie-label space (minted surrogate rgd_ids never enter the hash; each
    minted gene is addressed by the curie xref the flow itself writes) and
    (b) an ins/upd/stale metrics row pinning the sync verdict split.
    delete_threshold_pct=100 because the synthetic seeds are mostly stale."""
    from ortholog_pipeline_spark.plans.agr_load import run_agr_load

    world = _agr_world(spark, sf_dir)
    store = _seed_store(spark, world, "flow_agr_", cache_key=f"agr:{sf_dir}")
    res = run_agr_load(store, world["lines"], RUN_TS, delete_threshold_pct=100.0)
    agr = store.read("agr_orthologs")
    xr = store.read("xrefs").filter(F.col("xdb_key") == 63).select(
        "rgd_id", "acc_id"
    )
    x1 = xr.withColumnsRenamed({"rgd_id": "gene_rgd_id_1", "acc_id": "_acc1"})
    x2 = xr.withColumnsRenamed({"rgd_id": "gene_rgd_id_2", "acc_id": "_acc2"})
    out = (
        agr.join(F.broadcast(x1), "gene_rgd_id_1", "left")
        .join(F.broadcast(x2), "gene_rgd_id_2", "left")
        .select(
            F.coalesce(
                F.col("_acc1"),
                F.concat(F.lit("RGD#"), F.col("gene_rgd_id_1").cast("string")),
            ).alias("label_1"),
            F.coalesce(
                F.col("_acc2"),
                F.concat(F.lit("RGD#"), F.col("gene_rgd_id_2").cast("string")),
            ).alias("label_2"),
            "confidence",
            "is_best_score",
            "is_best_rev_score",
            "methods_matched",
        )
    )
    metrics = spark.range(1).select(
        F.lit("#metrics").alias("label_1"),
        F.lit(None).cast("string").alias("label_2"),
        F.lit(None).cast("string").alias("confidence"),
        F.lit(None).cast("string").alias("is_best_score"),
        F.lit(None).cast("string").alias("is_best_rev_score"),
        F.concat(
            F.lit("ins="), F.lit(res.n_inserted).cast("string"),
            F.lit("|upd="), F.lit(res.n_updated).cast("string"),
            F.lit("|stale="), F.lit(res.n_stale_deleted).cast("string"),
        ).alias("methods_matched"),
    )
    return out.unionByName(metrics)


# ---------------------------------------------------------------------------
# flow_fix_xref — §3.3 --fixXRefDataSet end to end
# ---------------------------------------------------------------------------

#: sanitize_evidence_set (strings.py:14) in DuckDB: split ',' → trim → drop
#: empties → dedup → sort → join ', '.
_SAN = (
    "array_to_string(list_sort(list_distinct(list_filter("
    "list_transform(string_split({c}, ','), t -> trim(t)), t -> t != ''))), ', ')"
)

_FIX_XREF_SQL = f"""
    WITH
    rat3 AS (SELECT CAST(p_partkey AS INTEGER) AS p FROM part WHERE p_partkey <= 500),
    seed_o AS (
      SELECT CAST(p AS BIGINT) AS k,
             CASE p % 6 WHEN 0 THEN 'OrthoDB,Ensembl,OrthoDB'
                  WHEN 1 THEN 'Ensembl,OrthoDB'
                  WHEN 2 THEN 'Ensembl, OrthoDB'
                  WHEN 3 THEN ' Panther , Ensembl '
                  WHEN 4 THEN 'Ensembl,,OrthoDB'
                  ELSE NULL END AS xset
      FROM rat3
    ),
    seed_a AS (
      SELECT CAST(p AS BIGINT) AS k,
             CASE WHEN p % 2 = 0 THEN 'weak_ortholog' ELSE 'homolog_note' END AS atype,
             CASE WHEN p % 2 = 0 THEN
               (CASE p % 4 WHEN 0 THEN 'b,a,b,a' ELSE 'a, b' END)
             ELSE 'z,z' END AS sub
      FROM rat3
    ),
    fixed_o AS (
      SELECT k,
             CASE WHEN len({_SAN.format(c='xset')}) < len(xset)
                  THEN {_SAN.format(c='xset')} ELSE xset END AS xset
      FROM seed_o
    ),
    fixed_a AS (
      SELECT k, atype,
             CASE WHEN atype = 'weak_ortholog'
                  AND len({_SAN.format(c='sub')}) < len(sub)
                  THEN {_SAN.format(c='sub')} ELSE sub END AS sub
      FROM seed_a
    )
    SELECT 'orthologs' AS tbl, k AS row_key, xset AS evidence,
           CAST(NULL AS VARCHAR) AS assoc_type
    FROM fixed_o
    UNION ALL
    SELECT 'associations', k, sub, atype FROM fixed_a
"""


@register("flow_fix_xref", _FIX_XREF_SQL)
def flow_fix_xref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 --fixXRefDataSet end-to-end: seed orthologs/associations snapshots
    with messy packed evidence sets (dup tokens, stray spaces, empty tokens,
    NULLs), run the REAL run_fix_xref_data_set plan, and return both fixed
    snapshots. Pins the reference's strictly-shorter update guard — e.g.
    'Ensembl,,OrthoDB' sanitizes to the same length, so it is KEPT verbatim —
    and that non-weak association subtypes are never touched."""
    from ortholog_pipeline_spark.plans.maintenance import run_fix_xref_data_set

    p = F.col("p")
    part = _part_bounded(spark, sf_dir, 500)
    ts0 = F.lit(TS0)
    orth = part.select(
        p.cast("long").alias("genetogene_key"),
        (HB + p).cast("int").alias("src_rgd_id"),
        (RB + p).cast("int").alias("dest_rgd_id"),
        F.lit(1).cast("int").alias("src_species_type_key"),
        F.lit(3).cast("int").alias("dest_species_type_key"),
        F.lit(None).cast("int").alias("group_id"),
        F.lit("NCBI").alias("xref_data_src"),
        F.when(p % 6 == 0, "OrthoDB,Ensembl,OrthoDB")
        .when(p % 6 == 1, "Ensembl,OrthoDB")
        .when(p % 6 == 2, "Ensembl, OrthoDB")
        .when(p % 6 == 3, " Panther , Ensembl ")
        .when(p % 6 == 4, "Ensembl,,OrthoDB")
        .otherwise(F.lit(None).cast("string"))
        .alias("xref_data_set"),
        F.lit(11).cast("int").alias("ortholog_type_key"),
        F.lit(None).cast("double").alias("percent_homology"),
        F.lit(70).cast("int").alias("created_by"),
        ts0.alias("created_date"),
        F.lit(70).cast("int").alias("last_modified_by"),
        ts0.alias("last_modified_date"),
    )
    assoc = part.select(
        p.cast("long").alias("assoc_key"),
        F.when(p % 2 == 0, "weak_ortholog").otherwise("homolog_note").alias(
            "assoc_type"
        ),
        F.when(
            p % 2 == 0, F.when(p % 4 == 0, "b,a,b,a").otherwise("a, b")
        )
        .otherwise("z,z")
        .alias("assoc_subtype"),
        (HB + p).cast("int").alias("master_rgd_id"),
        (RB + p).cast("int").alias("detail_rgd_id"),
        ts0.alias("creation_date"),
        F.lit("ORTHOLOGS").alias("src_pipeline"),
    )
    store = _seed_store(
        spark,
        {"orthologs": orth, "associations": assoc},
        "flow_fixxref_",
        cache_key=f"fixxref:{sf_dir}",
    )
    run_fix_xref_data_set(store)
    o_out = store.read("orthologs").select(
        F.lit("orthologs").alias("tbl"),
        F.col("genetogene_key").alias("row_key"),
        F.col("xref_data_set").alias("evidence"),
        F.lit(None).cast("string").alias("assoc_type"),
    )
    a_out = store.read("associations").select(
        F.lit("associations").alias("tbl"),
        F.col("assoc_key").alias("row_key"),
        F.col("assoc_subtype").alias("evidence"),
        F.col("assoc_type"),
    )
    return o_out.unionByName(a_out)


# ---------------------------------------------------------------------------
# flow_corpus_prep — the training-data cleaning pipeline, final-snapshot grain
# ---------------------------------------------------------------------------

def _corpus_flow_sql() -> str:
    """Reuses the oracle fragments of pipeline_corpus_prep (same CTE chain) but
    returns the KEPT snapshot (doc_id, predicted_lang, quality) instead of the
    per-stage counts — the composition check at row grain, not count grain."""
    from ortholog_pipeline_spark import queries as Q
    from ortholog_pipeline_spark.operators import dedup as DD

    return f"""
    WITH ann0 AS (
      SELECT doc_id,
             {Q._lang_hits_sql('en')} AS h_en, {Q._lang_hits_sql('es')} AS h_es,
             {Q._lang_hits_sql('fr')} AS h_fr, {Q._lang_hits_sql('de')} AS h_de,
             {Q._lang_hits_sql('zh')} AS h_zh,
             {Q._QUALITY_SQL} AS q,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             text
      FROM documents
    ),
    pred AS (
      SELECT *, CASE
          WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh
               AND h_en > 0 THEN 'en'
          WHEN h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh AND h_es > 0 THEN 'es'
          WHEN h_fr >= h_de AND h_fr >= h_zh AND h_fr > 0 THEN 'fr'
          WHEN h_de >= h_zh AND h_de > 0 THEN 'de'
          WHEN h_zh > 0 THEN 'zh'
          ELSE 'und' END AS predicted
      FROM ann0
    ),
    s2 AS (SELECT * FROM pred WHERE predicted = 'en' AND q >= 0.35),
    s3 AS (
      SELECT doc_id, text, predicted, q FROM s2
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
    ),
    th AS (
      SELECT doc_id,
             list_transform({Q._TOKS_SQL}, t ->
               CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {DD.MINHASH_M31}
             ) AS th
      FROM s3
    ),
    h AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(th) - 2, 0)),
               i -> (th[i] * {DD.SHINGLE_A} + th[i+1] * {DD.SHINGLE_B} + th[i+2])
                    % {DD.MINHASH_M31}
             )) AS h31
      FROM th WHERE len(th) >= 3
    ),
    sig AS (
      SELECT doc_id, h31,
             list_transform({Q._MINHASH_AB_SQL}, p ->
               list_min(list_transform(h31, x -> (p[1] * x + p[2]) % {DD.MINHASH_P}))
             ) AS sig
      FROM h
    ),
    banded AS (
      SELECT doc_id, b,
             md5(array_to_string(
               list_transform(sig[b*4+1 : b*4+4], v -> v::VARCHAR), ',')) AS band_key
      FROM sig, generate_series(0, 3) g(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
      FROM banded a JOIN banded b USING (b, band_key)
      WHERE a.doc_id < b.doc_id
    ),
    post AS (SELECT doc_id, unnest(h31) AS hsh FROM h),
    common AS (
      SELECT c.id_1, c.id_2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c JOIN post a ON a.doc_id = c.id_1
                  JOIN post b ON b.doc_id = c.id_2 AND b.hsh = a.hsh
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(h31) AS sz FROM h),
    losers AS (
      SELECT DISTINCT c.id_2 FROM cand c JOIN common USING (id_1, id_2)
                  JOIN sz s1x ON s1x.doc_id = c.id_1
                  JOIN sz s2x ON s2x.doc_id = c.id_2
      WHERE n_common * 1.0 / (s1x.sz + s2x.sz - n_common) >= 0.5
    )
    , qm AS (
      -- quality in EXACT integer micro-units (text_quality_score's known-good
      -- parity form): ROUND(double,6) halfway cases differ between engines
      SELECT doc_id,
             CASE WHEN n = 0 THEN 0
                  ELSE ((4 * LEAST(n, 100) * n + 300 * (d + s)) * 2000000
                        + 1000 * n) // (2000 * n) END AS quality_micro
      FROM (
        SELECT doc_id, len({Q._TOKS_SQL}) AS n,
               len(list_distinct({Q._TOKS_SQL})) AS d,
               len(list_filter({Q._TOKS_SQL},
                   t -> list_contains({Q._STOPS_SQL}, t))) AS s
        FROM documents)
    )
    SELECT s3.doc_id, s3.predicted AS predicted_lang,
           CAST(qm.quality_micro AS BIGINT) AS quality_micro
    FROM s3 JOIN qm USING (doc_id)
    WHERE doc_id NOT IN (SELECT id_2 FROM losers)
    """


@register("flow_corpus_prep", _corpus_flow_sql())
def flow_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-prep flow at FINAL-SNAPSHOT grain: run the real run_corpus_prep
    plan (lang gate → quality floor → exact dedup → LSH near-dup greedy
    keep-lowest) and return every surviving document with its annotations —
    complements pipeline_corpus_prep, which oracles only the per-stage counts."""
    from ortholog_pipeline_spark.plans.corpus_prep import run_corpus_prep

    from ortholog_pipeline_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents")
    kept = run_corpus_prep(docs, min_quality=0.35).kept
    # quality reported in exact integer micro-units (cross-engine parity form;
    # the plan's internal float threshold is engine-stable, the 6dp float
    # REPR is not — text_quality_score documents the halfway cases)
    toks = TXT.tokens("text")
    n = F.size(toks).cast("long")
    dd = F.size(F.array_distinct(toks)).cast("long")
    stop_arr = F.array(*[F.lit(x) for x in TXT.STOPWORDS])
    ss = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("long")
    num = (4 * F.least(n, F.lit(100)) * n + 300 * (dd + ss)) * 2000000 + 1000 * n
    den = 2000 * n
    qm = F.when(n == 0, F.lit(0).cast("long")).otherwise(
        ((num - F.pmod(num, den)) / den).cast("long")
    )
    return kept.select("doc_id", "predicted_lang", qm.alias("quality_micro"))


# ---------------------------------------------------------------------------
# flow_homologene — the deprecated HomoloGene flow (S5 + J13 + per-group CDC)
# ---------------------------------------------------------------------------

_HOMOLOGENE_SQL = f"""
    WITH
    parts4 AS (SELECT CAST(p_partkey AS INTEGER) AS p FROM part),
    -- resolution dim: 'GG'||p -> {RB}+p, with planted defects (p%19 multi,
    -- p%31 absent); exactly-one wins (HomologeneLoader.java:120-135)
    dim AS (
      SELECT gene_id, COUNT(*) AS n, MIN(rgd_id) AS rgd_id FROM (
        SELECT 'GG' || CAST(p AS VARCHAR) AS gene_id, {RB} + p AS rgd_id
        FROM parts4 WHERE p <= 899 AND p % 31 != 0
        UNION ALL
        SELECT 'GG' || CAST(p AS VARCHAR), {RB} + p + 1000
        FROM parts4 WHERE p <= 899 AND p % 19 = 0 AND p % 31 != 0
      ) GROUP BY gene_id
    ),
    entries AS (
      SELECT CAST(o_orderkey % 2999 AS INTEGER) AS g,
             CASE o_custkey % 4 WHEN 0 THEN '9606' WHEN 1 THEN '10090'
                  WHEN 2 THEN '10116' ELSE '7227' END AS tax,
             'GG' || CAST(o_orderkey % 900 AS VARCHAR) AS gene_id
      FROM orders
    ),
    valid AS (
      SELECT g, gene_id,
             CASE tax WHEN '9606' THEN 1 WHEN '10090' THEN 2 ELSE 3 END AS sp
      FROM entries WHERE tax IN ('9606', '10090', '10116')
    ),
    resolved AS (
      SELECT v.g, d.rgd_id, v.sp
      FROM valid v JOIN dim d USING (gene_id) WHERE d.n = 1
    ),
    fwd AS (
      SELECT a.g, a.rgd_id AS r1, a.sp AS s1, b.rgd_id AS r2, b.sp AS s2
      FROM resolved a JOIN resolved b ON a.g = b.g AND a.rgd_id < b.rgd_id
    ),
    incoming AS (
      SELECT g AS group_id, r1 AS src_rgd_id, r2 AS dest_rgd_id,
             s1 AS ssp, s2 AS dsp
      FROM fwd
      UNION ALL
      SELECT g, r2, r1, s2, s1 FROM fwd
    ),
    seed AS (
      SELECT CAST(7000000 + p AS BIGINT) AS genetogene_key,
             CAST(p AS INTEGER) AS group_id,
             {RB} + p AS src_rgd_id, {RB} + (p * 7) % 900 AS dest_rgd_id,
             (p % 3) + 1 AS ssp, ((p * 7) % 3) + 1 AS dsp,
             CASE WHEN p % 13 = 0 THEN 'HGNC' ELSE 'HOMOLOGENE' END AS xref_data_src
      FROM parts4 WHERE p <= 500
    ),
    file_groups AS (SELECT DISTINCT g AS group_id FROM valid),
    scope AS (
      SELECT s.* FROM seed s
      SEMI JOIN file_groups f USING (group_id)
      WHERE s.xref_data_src = 'HOMOLOGENE'
    ),
    cdc AS (
      SELECT coalesce(i.group_id, e.group_id) AS group_id,
             coalesce(i.src_rgd_id, e.src_rgd_id) AS src_rgd_id,
             coalesce(i.dest_rgd_id, e.dest_rgd_id) AS dest_rgd_id,
             i.ssp, i.dsp, e.genetogene_key,
             CASE WHEN e.genetogene_key IS NULL THEN 'insert'
                  WHEN i.src_rgd_id IS NULL THEN 'delete'
                  ELSE 'match' END AS v
      FROM incoming i FULL OUTER JOIN scope e
        ON i.group_id = e.group_id AND i.src_rgd_id = e.src_rgd_id
       AND i.dest_rgd_id = e.dest_rgd_id
    ),
    final AS (
      -- survivors: seeds not deleted (non-scope rows incl. HGNC untouched)
      SELECT s.group_id, s.src_rgd_id, s.dest_rgd_id, s.ssp, s.dsp,
             s.xref_data_src
      FROM seed s
      ANTI JOIN (SELECT genetogene_key FROM cdc WHERE v = 'delete') d
        USING (genetogene_key)
      UNION ALL
      SELECT group_id, src_rgd_id, dest_rgd_id, ssp, dsp, 'HOMOLOGENE'
      FROM cdc WHERE v = 'insert'
    )
    SELECT group_id, src_rgd_id AS id_a, dest_rgd_id AS id_b,
           ssp AS species_a, dsp AS species_b, xref_data_src AS src
    FROM final
    UNION ALL
    SELECT -1,
           (SELECT CAST(COUNT(*) AS INTEGER) FROM cdc WHERE v = 'insert'),
           (SELECT CAST(COUNT(*) AS INTEGER) FROM cdc WHERE v = 'delete'),
           (SELECT CAST(COUNT(*) AS INTEGER) FROM cdc WHERE v = 'match'),
           (SELECT CAST(COUNT(*) AS INTEGER)
              FROM entries WHERE tax NOT IN ('9606','10090','10116')),
           'metrics'
"""


@register("flow_homologene", _HOMOLOGENE_SQL)
def flow_homologene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deprecated HomoloGene flow end-to-end (closes VERDICT r2 'What's
    missing' item 2): S5-shaped entries derived from orders, exactly-one gene
    resolution with planted no-match/multi-match defects, J13 all-pairs group
    expansion (both directions), and the per-group CDC scoped to file groups
    and HOMOLOGENE-sourced rows (HGNC-sourced seed rows must survive
    untouched). Returns the final snapshot + a metrics row pinning the
    insert/delete/match/bad-species counters.

    Not in the bench headline: the synthetic group size grows with sf (50
    members/group at sf0.1 -> 3.4M J13 pairs, ~17 s), which measures the
    derivation, not the engine — real HomoloGene groups are ~6 members.
    Correctness-gated at sf0.01 and verified at sf0.1."""
    from ortholog_pipeline_spark.plans.homologene import run_homologene_load

    p = F.col("p")
    orders = _t(spark, sf_dir, "orders")
    ts0 = F.lit(TS0)

    p899 = _part_bounded(spark, sf_dir, 899).filter(p % 31 != 0)
    xr = p899.select(
        p.cast("int").alias("acc_xdb_key"),
        (RB + p).cast("int").alias("rgd_id"),
        F.concat(F.lit("GG"), p.cast("string")).alias("acc_id"),
        F.lit(3).cast("int").alias("xdb_key"),
        F.lit("ENTREZGENE").alias("src_pipeline"),
        ts0.alias("modification_date"),
    ).unionByName(
        p899.filter(p % 19 == 0).select(
            (10000 + p).cast("int").alias("acc_xdb_key"),
            (RB + p + 1000).cast("int").alias("rgd_id"),
            F.concat(F.lit("GG"), p.cast("string")).alias("acc_id"),
            F.lit(3).cast("int").alias("xdb_key"),
            F.lit("ENTREZGENE").alias("src_pipeline"),
            ts0.alias("modification_date"),
        )
    )
    seed = _part_bounded(spark, sf_dir, 500).select(
        (7000000 + p).cast("long").alias("genetogene_key"),
        (RB + p).cast("int").alias("src_rgd_id"),
        ((RB + (p * 7) % 900)).cast("int").alias("dest_rgd_id"),
        ((p % 3) + 1).cast("int").alias("src_species_type_key"),
        (((p * 7) % 3) + 1).cast("int").alias("dest_species_type_key"),
        p.cast("int").alias("group_id"),
        F.when(p % 13 == 0, "HGNC").otherwise("HOMOLOGENE").alias("xref_data_src"),
        F.lit("HOMOLOGENE").alias("xref_data_set"),
        F.lit(11).cast("int").alias("ortholog_type_key"),
        F.lit(None).cast("double").alias("percent_homology"),
        F.lit(70).cast("int").alias("created_by"),
        ts0.alias("created_date"),
        F.lit(70).cast("int").alias("last_modified_by"),
        ts0.alias("last_modified_date"),
    )
    ok = F.col("o_orderkey")
    entries = orders.select(
        (ok % 2999).cast("int").alias("homologene_id"),
        F.when(F.col("o_custkey") % 4 == 0, "9606")
        .when(F.col("o_custkey") % 4 == 1, "10090")
        .when(F.col("o_custkey") % 4 == 2, "10116")
        .otherwise("7227")
        .alias("tax_id"),
        F.concat(F.lit("GG"), (ok % 900).cast("string")).alias("gene_id"),
    )
    store = _seed_store(
        spark, {"xrefs": xr, "orthologs": seed}, "flow_homologene_",
        cache_key=f"homologene:{sf_dir}",
    )
    res = run_homologene_load(store, entries, RUN_TS)
    final = store.read("orthologs").select(
        "group_id",
        F.col("src_rgd_id").alias("id_a"),
        F.col("dest_rgd_id").alias("id_b"),
        F.col("src_species_type_key").alias("species_a"),
        F.col("dest_species_type_key").alias("species_b"),
        F.col("xref_data_src").alias("src"),
    )
    metrics = spark.range(1).select(
        F.lit(-1).cast("int").alias("group_id"),
        F.lit(res.n_inserted).cast("int").alias("id_a"),
        F.lit(res.n_deleted).cast("int").alias("id_b"),
        F.lit(res.n_matched).cast("int").alias("species_a"),
        F.lit(res.n_bad_species).cast("int").alias("species_b"),
        F.lit("metrics").alias("src"),
    )
    return final.unionByName(metrics)
