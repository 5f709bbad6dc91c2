"""Seeded input generator for the ortholog-load benchmark.

One seed yields one *world*: the HCOP, NCBI and Alliance landing files of
release N (gzip, in their real formats and the ``<source>/dt=<date>/`` landing
layout) and a state store synced from release N-1 (parquet snapshots in the
``<table>/v=<n>/`` layout with ``_CURRENT`` markers). Sizes are fixed; the seed
only moves content (which pairs churn, which ids are withdrawn, evidence
tokens, best-score flags), so timings are comparable across seeds.

The N-1 store is computed here, in plain Python, with the cascade the species
load applies (manual > Alliance mutual-best > HGNC best-fit > NCBI best-fit)
over the N-1 relations, so a load of release N sees only the planted churn:
new pairs, dropped pairs, re-pointed pairs and evidence edits.

Cases planted (see the repo's FIXTURES.md): duplicate evidence tokens and
repeated HCOP rows per pair, HCOP+NCBI merges, withdrawn ids with and without
an active replacement, ids matching several active genes, unknown ids, manual
RGD rows, Alliance mutual-best rows, one-to-two pairs that leave weak
associations, surplus ortholog rows, Greek-letter symbols, every tier of the
Alliance curie resolution cascade, mintable genes and unprocessed species.

Fixtures are cached under ``<cache>/<version>/seed=<n>/`` where the version
hashes this file and the program's schema module, so an edit to either makes
a fresh fixture. The same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: run_ts of every load, and the stamp of the N-1 sync (one day earlier).
RUN_TS = dt.datetime(2026, 3, 2, 6, 0, 0)
PREV_TS = RUN_TS - dt.timedelta(days=1)
LANDING_DT = "2026-03-02"

HUMAN = 1
PIPELINE = 70
CURATOR = 1
ENTREZ, AGR_GENE = 3, 63

#: (name, species key, taxon id, HCOP source?, pairs). Every non-human mammal
#: the landing files cover; each clears the 5 000-relation sanity floor.
COVERED = (
    ("rat", 3, 10116, True, 8000),
    ("mouse", 2, 10090, True, 6000),
    ("dog", 6, 9615, True, 5000),
    ("pig", 9, 9823, True, 5000),
    ("chinchilla", 4, 34839, False, 5400),
    ("bonobo", 5, 9597, False, 5400),
)
#: Landing-file species no species load reads (filtered out by the scans).
UNCOVERED_TAXA = ("7955", "9031", "8364", "9913", "9544")
UNCOVERED_ROWS_HCOP, UNCOVERED_ROWS_NCBI, NONHUMAN_FIRST_ROWS = 8000, 10000, 6000

#: Alliance species the AGR load processes (key, taxon, curie prefix, name).
AGR_SPECIES = {
    "human": (1, "9606", "Homo sapiens"),
    "mouse": (2, "10090", "Mus musculus"),
    "rat": (3, "10116", "Rattus norvegicus"),
    "zebrafish": (8, "7955", "Danio rerio"),
    "fruitfly": (10, "7227", "Drosophila melanogaster"),
    "roundworm": (11, "6239", "Caenorhabditis elegans"),
    "yeast": (12, "559292", "Saccharomyces cerevisiae"),
}
AGR_OTHER_GENES = 1500  # genes per zebrafish/fruitfly/roundworm/yeast
AGR_UNPROCESSED_LINES = 3000
METHODS = (
    "Ensembl Compara", "HGNC", "Hieranoid", "InParanoid", "OMA", "OrthoFinder",
    "OrthoInspector", "PANTHER", "PhylomeDB", "SonicParanoid", "ZFIN",
)
EVIDENCE = ("Ensembl", "EggNOG", "HomoloGene", "Inparanoid", "OMA", "OrthoDB",
            "OrthoMCL", "Panther", "PhylomeDB", "TreeFam")
GREEK = {"α": "alpha", "β": "beta", "γ": "gamma", "δ": "delta", "κ": "kappa"}

HCOP_COLS = 16


def version_key(repo_root: str) -> str:
    """Hash of this generator and the program's schema module."""
    h = hashlib.sha256()
    for path in (
        __file__,
        os.path.join(repo_root, "ortholog_pipeline_spark", "schemas.py"),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


# ---------------------------------------------------------------------------
# The world model
# ---------------------------------------------------------------------------


class World:
    """Every gene, id and pair of one seed, with releases N-1 and N."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.pick = random.Random(seed)  # cheap per-item draws
        self.genes: list[tuple] = []  # (rgd, symbol, type, ens_symbol, species)
        self.rgd_ids: list[tuple] = []  # (rgd, status, species, 1, replaced_by)
        self.xrefs: list[tuple] = []  # (rgd, acc, xdb)
        self.next_rgd = 1000
        self.sym_of: dict[int, str] = {}
        self.curie_of: dict[int, str] = {}  # the gene's one AGR curie xref
        self._build_species()
        self._build_alliance()

    # -- genes ---------------------------------------------------------------
    def new_gene(self, species: int, symbol: str, status: str = "ACTIVE",
                 replaced_by: int | None = None, ens_symbol: str | None = None) -> int:
        rgd = self.next_rgd
        self.next_rgd += 1
        self.genes.append((rgd, symbol, "protein-coding", ens_symbol, species))
        self.rgd_ids.append((rgd, status, species, 1, replaced_by))
        self.sym_of[rgd] = symbol
        return rgd

    def _build_species(self) -> None:
        rng = self.rng
        n_human = max(c[4] for c in COVERED) + 3000
        self.human = []  # (rgd, eg)
        for i in range(n_human):
            rgd = self.new_gene(HUMAN, f"HG{i}", ens_symbol=f"HG{i}")
            eg = str(100000 + i)
            self.xrefs.append((rgd, eg, ENTREZ))
            self.xrefs.append((rgd, f"HGNC:{50000 + i}", AGR_GENE))
            self.curie_of[rgd] = f"HGNC:{50000 + i}"
            self.human.append((rgd, eg))
        # withdrawn human ids: with one active replacement (resolves to it),
        # without one (dropped); ids shared by two active genes (dropped)
        self.replaced, self.withdrawn, self.multi = [], [], []
        for i in range(150):
            repl = self.new_gene(HUMAN, f"HGR{i}")
            w = self.new_gene(HUMAN, f"HGW{i}", status="WITHDRAWN", replaced_by=repl)
            eg = str(400000 + i)
            self.xrefs.append((w, eg, ENTREZ))
            self.replaced.append((repl, eg))
        for i in range(100):
            w = self.new_gene(HUMAN, f"HGX{i}", status="WITHDRAWN")
            eg = str(500000 + i)
            self.xrefs.append((w, eg, ENTREZ))
            self.withdrawn.append(eg)
        for i in range(100):
            eg = str(600000 + i)
            for j in range(2):
                g = self.new_gene(HUMAN, f"HGM{i}_{j}")
                self.xrefs.append((g, eg, ENTREZ))
            self.multi.append(eg)

        self.species = {}
        for name, key, tax, hcop, n_pairs in COVERED:
            self.species[name] = self._build_pairs(key, tax, hcop, n_pairs)

    def _build_pairs(self, key, tax, hcop, n_pairs) -> dict:
        """Pairs (human rgd, species rgd) of releases N-1 and N for one species,
        plus the relation rows each release's files carry."""
        rng = self.rng
        hum_idx = rng.permutation(len(self.human))[:n_pairs]
        genes_eg = {}

        def sp_gene(i: int, sym: str) -> int:
            g = self.new_gene(key, sym)
            eg = str(key * 10_000_000 + i)
            self.xrefs.append((g, eg, ENTREZ))
            genes_eg[g] = eg
            return g

        pairs = []  # (h_rgd, h_eg, g_rgd)
        for i, hi in enumerate(hum_idx):
            h, eg = self.human[hi]
            pairs.append((h, eg, sp_gene(i, f"Hg{hi}")))
        # one human gene with two species genes: the secondary carries less
        # evidence and a different symbol, so best-fit keeps the primary and
        # the secondary pair becomes a weak association
        n = len(pairs)
        extra = []
        for j, p in enumerate(pairs[: n // 40]):
            extra.append((p[0], p[1], sp_gene(n + j, self.sym_of[p[2]] + "l")))
        extra_set = set(extra)
        # ids the resolution drops or replaces (one relation each, N-1 and N)
        odd = []
        for j, (repl, eg) in enumerate(self.replaced[: 40]):
            odd.append((repl, eg, sp_gene(2 * n + j, f"Rp{j}")))
        side = {"withdrawn": self.withdrawn[:30], "multi": self.multi[:30]}
        dropped = []
        for kind, egs in side.items():
            for j, eg in enumerate(egs):
                g = sp_gene(3 * n + len(dropped), f"Dr{kind}{j}")
                dropped.append((eg, genes_eg[g]))
        for j in range(30):  # unknown human ids
            g = sp_gene(3 * n + len(dropped), f"Un{j}")
            dropped.append((str(900000 + key * 1000 + j), genes_eg[g]))

        # per-pair sources: HCOP-only, NCBI-only, or both
        src = {}
        for p in pairs + extra + odd:
            if not hcop:
                src[p] = "N"
            else:
                u = self.pick.random()
                src[p] = "H" if u < 0.3 else ("N" if u < 0.45 else "HN")
        # secondary: fewer HCOP tokens, or (every third) a tie on evidence that
        # the best-fit symbol rule breaks for the primary
        tied = {p: q for j, (p, q) in enumerate(zip(extra, pairs)) if j % 3 == 0}
        for p in extra:
            if hcop:
                src[p] = src[tied[p]] if p in tied and "H" in src[tied[p]] else "H"

        # churn: N-1 → N (≈1.5% of pairs)
        idx = rng.permutation(n)
        k = max(1, n // 250)
        gone = [pairs[i] for i in idx[:k]]  # pair dropped in N
        repoint = [pairs[i] for i in idx[k : 2 * k]]  # N-1 NCBI → N HGNC, new dest
        edits = [pairs[i] for i in idx[2 * k : 3 * k]]  # evidence tokens change
        new_pairs = []
        for j in range(k):  # brand-new genes on both sides
            h = self.new_gene(HUMAN, f"HN{key}_{j}")
            heg = str(700000 + key * 1000 + j)
            self.xrefs.append((h, heg, ENTREZ))
            new_pairs.append((h, heg, sp_gene(4 * n + j, f"Hn{key}_{j}")))
        repointed = []
        for j, p in enumerate(repoint):
            g2 = sp_gene(5 * n + j, self.sym_of[p[2]] + "b")
            repointed.append((p[0], p[1], g2))
            src[p] = "N"
            src[(p[0], p[1], g2)] = "H" if hcop else "N"
        for p in new_pairs:
            src[p] = "HN" if hcop else "N"

        ev = {}
        for p in src:
            if p in extra_set:
                continue
            ev[p] = sorted(self.pick.sample(range(len(EVIDENCE)), self.pick.randint(2, 4)))
        for p in extra:
            ntok = len(ev[tied[p]]) if p in tied and src[p] == src[tied[p]] else 1
            ev[p] = sorted(self.pick.sample(range(len(EVIDENCE)), ntok))
        ev_new = dict(ev)
        for p in edits:
            if src[p] != "N":
                toks = set(ev[p])
                toks.symmetric_difference_update({int(rng.integers(0, len(EVIDENCE)))})
                ev_new[p] = sorted(toks) or [0]
        prev = pairs + extra + odd
        gone_set, rep_set = set(gone), set(repoint)
        cur = [p for p in prev if p not in gone_set and (hcop or p not in rep_set)]
        # with HCOP, the re-pointed old pair stays in NCBI only and the new
        # HGNC pair outranks it; without, the old pair is gone from the file
        cur += new_pairs + repointed
        manual = [pairs[i] for i in idx[3 * k : 3 * k + n // 100]]
        return {
            "key": key, "tax": tax, "hcop": hcop, "genes_eg": genes_eg,
            "prev": prev, "cur": cur, "src": src, "ev_prev": ev, "ev_cur": ev_new,
            "manual": manual, "dropped": dropped,
            "surplus": [pairs[i] for i in idx[3 * k + n // 100 : 3 * k + n // 100 + k]],
        }

    # -- Alliance --------------------------------------------------------------
    def _build_alliance(self) -> None:
        """Alliance lines of N-1 and N. Each line: (g1 curie, g1 symbol, g1 sp,
        g2 curie, g2 symbol, g2 sp, methods, best, best_rev) with the label each
        side resolves to (None = unresolved)."""
        rng = self.rng
        self.agr_genes = {}
        for name in ("zebrafish", "fruitfly", "roundworm", "yeast"):
            key = AGR_SPECIES[name][0]
            lst = []
            for i in range(AGR_OTHER_GENES):
                sym = f"{name[:2]}g{i}"
                g = self.new_gene(key, sym)
                cur = _curie(name, i)
                if i % 10 != 0:  # 10% only resolvable by symbol
                    self.xrefs.append((g, cur, AGR_GENE))
                    self.curie_of[g] = cur
                lst.append((g, cur, sym))
            self.agr_genes[name] = lst
        # Greek-symbol human genes: the file symbol is transliterated to match
        self.greek = []
        for i in range(60):
            letter = list(GREEK)[i % len(GREEK)]
            g = self.new_gene(HUMAN, f"TNF{GREEK[letter].upper()}{i}")
            self.greek.append((g, f"TNF{letter}{i}"))

        def line(g1, s1, sp1, g2, s2, sp2, lab1, lab2):
            pick = self.pick
            toks = [METHODS[x] for x in pick.sample(range(len(METHODS)), pick.randint(1, 4))]
            # unsorted, with a repeated token sometimes (the load pipe-sorts)
            if pick.random() < 0.2:
                toks.append(toks[0])
            bs, brs = pick.random() < 0.6, pick.random() < 0.5
            return [g1, s1, sp1, g2, s2, sp2, "|".join(toks), bs, brs, lab1, lab2]

        hum = self.human
        lines = []
        # human ↔ rat/mouse: the species loads' Alliance tier reads these rows
        for name in ("rat", "mouse"):
            sp = self.species[name]
            for h, _eg, g in sp["prev"][: len(sp["prev"]) // 2]:
                if name == "rat":
                    c2, lab2 = f"RGD:{g}", f"RGD#{g}"
                else:
                    c2 = f"MGI:{g}"
                    self.xrefs.append((g, c2, AGR_GENE))
                    self.curie_of[g] = c2
                    lab2 = c2
                ln = line(self.curie_of[h], self.sym_of[h], "human",
                          c2, self.sym_of[g], name, self.curie_of[h], lab2)
                if name == "mouse":
                    # never mutual-best in N-1: the cascade's Alliance tier
                    # inserts mutual-best keys of every species, and rows it
                    # re-inserts for mouse would count as mouse churn later
                    ln[8] = False
                lines.append(ln)
        # human ↔ other processed species, every resolution tier
        for name, genes in self.agr_genes.items():
            for g, cur, sym in genes:
                h = hum[int(rng.integers(0, len(hum)))][0]
                lab2 = self.curie_of.get(g, f"RGD#{g}")
                lines.append(line(self.curie_of[h], self.sym_of[h], "human",
                                  cur, sym, name, self.curie_of[h], lab2))
        # human side by symbol only (unknown curie), incl. Greek symbols
        for i, (g, fsym) in enumerate(self.greek):
            z = self.agr_genes["zebrafish"][i]
            lines.append(line(f"HGNC:{90000 + i}", fsym, "human", z[1], z[2],
                              "zebrafish", f"RGD#{g}", self.curie_of.get(z[0], f"RGD#{z[0]}")))
        # unresolvable human residue (never minted)
        for i in range(40):
            z = self.agr_genes["yeast"][i]
            lines.append(line(f"HGNC:{95000 + i}", f"NOSUCH{i}", "human", z[1], z[2],
                              "yeast", None, self.curie_of.get(z[0], f"RGD#{z[0]}")))
        for i, l in enumerate(lines):
            l.append(i)  # stable line id
        # duplicate (g1, g2, methods) lines with other flags: Y beats N
        dups = [list(lines[int(i)]) for i in rng.choice(len(lines), 300, replace=False)]
        for d in dups:
            d[7], d[8] = not d[7], d[8]
        prev_lines = lines + dups

        # release N: 3% stale keys gone, 5% flag updates, 5% new keys, of
        # which some carry new mintable genes
        n = len(lines)
        idx = rng.permutation(n)
        stale = set(idx[: n * 3 // 100].tolist())
        flips = set(idx[n * 3 // 100 : n * 8 // 100].tolist())
        cur_lines = []
        for l in prev_lines:
            if l[11] in stale:
                continue
            l = list(l)
            if l[11] in flips:
                l[8] = not l[8]
            cur_lines.append(l)
        n_new = n * 5 // 100
        for j in range(n_new):
            h = hum[int(rng.integers(0, len(hum)))][0]
            if j % 8 == 0:  # a gene the store has never seen: minted
                name = ("zebrafish", "fruitfly", "roundworm", "yeast")[j // 8 % 4]
                cur = _curie(name, 100000 + j)
                cur_lines.append(line(self.curie_of[h], self.sym_of[h], "human",
                                      cur, f"new{j}", name, self.curie_of[h], cur)
                                 + [n + j])
            else:
                name = ("zebrafish", "fruitfly", "roundworm", "yeast")[j % 4]
                g, cur, sym = self.agr_genes[name][int(rng.integers(0, AGR_OTHER_GENES))]
                cur_lines.append(line(self.curie_of[h], self.sym_of[h], "human",
                                      cur, sym, name, self.curie_of[h],
                                      self.curie_of.get(g, f"RGD#{g}")) + [n + j])
        self.agr_prev, self.agr_cur = prev_lines, cur_lines
        self.agr_minted = sum(1 for j in range(n_new) if j % 8 == 0)

        # unprocessed species lines (dropped by the species filter)
        self.agr_unprocessed = []
        for i in range(AGR_UNPROCESSED_LINES):
            h = hum[int(rng.integers(0, len(hum)))][0]
            if i % 2:
                other = (f"ENSEMBL:ENSCAFG{i:011d}", f"cf{i}", "9615", "Canis lupus familiaris")
            else:
                other = (f"Xenbase:XB-GENE-{i}", f"xl{i}", "8364", "Xenopus tropicalis")
            self.agr_unprocessed.append((self.curie_of[h], self.sym_of[h], other))


def _curie(name: str, i: int) -> str:
    return {
        "zebrafish": f"ZFIN:ZDB-GENE-{i:06d}",
        "fruitfly": f"FB:FBgn{i:07d}",
        "roundworm": f"WB:WBGene{i:08d}",
        "yeast": f"SGD:S{i:09d}",
    }[name]


# ---------------------------------------------------------------------------
# Release N landing files
# ---------------------------------------------------------------------------


def _gz_write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as raw:
        with gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0,
                           compresslevel=1) as f:
            f.write(text.encode("utf-8"))


def _hcop_row(tax: str, heg: str, oeg: str, tokens: list[str]) -> str:
    cols = [""] * HCOP_COLS
    cols[0], cols[1], cols[8], cols[15] = tax, heg, oeg, ",".join(tokens)
    cols[2], cols[3] = f"ENSG{heg:0>11}", f"HGNC:{heg}"
    return "\t".join(cols)


def write_landing(w: World, root: str) -> dict:
    """Write release N's three gz files. Returns line counts per file."""
    rng = np.random.default_rng(w.landing_seed)
    hcop, ncbi = [], ["#tax_id\tGeneID\trelationship\tOther_tax_id\tOther_GeneID"]
    for name, sp in w.species.items():
        tax = str(sp["tax"])
        for p in sp["cur"]:
            h, heg, g = p
            geg = sp["genes_eg"][g]
            s = sp["src"][p]
            if "H" in s:
                toks = [EVIDENCE[t] for t in sp["ev_cur"][p]]
                if rng.random() < 0.3:  # duplicate tokens inside the set
                    toks = toks + [toks[0]]
                hcop.append(_hcop_row(tax, heg, geg, toks))
                if rng.random() < 0.05:  # a second HCOP row for the pair
                    hcop.append(_hcop_row(tax, heg, geg, toks[::-1]))
            if "N" in s:
                ncbi.append(f"9606\t{heg}\tOrtholog\t{tax}\t{geg}")
        for heg, geg in sp["dropped"]:
            if sp["hcop"]:
                hcop.append(_hcop_row(tax, heg, geg, ["Ensembl"]))
            else:
                ncbi.append(f"9606\t{heg}\tOrtholog\t{tax}\t{geg}")
    for i in range(UNCOVERED_ROWS_HCOP):
        tax = UNCOVERED_TAXA[i % len(UNCOVERED_TAXA)]
        hcop.append(_hcop_row(tax, str(100000 + i % 20000), str(80_000_000 + i), ["OMA"]))
    for i in range(UNCOVERED_ROWS_NCBI):
        tax = UNCOVERED_TAXA[i % len(UNCOVERED_TAXA)]
        ncbi.append(f"9606\t{100000 + i % 20000}\tOrtholog\t{tax}\t{81_000_000 + i}")
    for i in range(NONHUMAN_FIRST_ROWS):  # non-human first column: filtered
        ncbi.append(f"10090\t{20_000_000 + i}\tOrtholog\t10116\t{30_000_000 + i}")
    # interleave species deterministically, as the real files mix them
    hcop = [hcop[i] for i in rng.permutation(len(hcop))]
    body = ncbi[1:]
    ncbi = ncbi[:1] + [body[i] for i in rng.permutation(len(body))]
    _gz_write(os.path.join(root, "hcop", f"dt={LANDING_DT}", "human_all_hcop_sixteen_column.txt.gz"),
              "\n".join(hcop) + "\n")
    _gz_write(os.path.join(root, "ncbi", f"dt={LANDING_DT}", "gene_orthologs.gz"),
              "\n".join(ncbi) + "\n")

    agr = [
        "#########################################################",
        "# Alliance of Genome Resources combined orthology file",
        "# generated for the ortholog-load benchmark",
        "#########################################################",
        "Gene1ID\tGene1Symbol\tGene1SpeciesTaxonID\tGene1SpeciesName\tGene2ID\t"
        "Gene2Symbol\tGene2SpeciesTaxonID\tGene2SpeciesName\tAlgorithms\t"
        "AlgorithmsMatch\tOutOfAlgorithms\tIsBestScore\tIsBestRevScore",
    ]
    body = [_agr_line(l) for l in w.agr_cur]
    for c1, s1, (c2, s2, tax, sname) in w.agr_unprocessed:
        body.append(f"{c1}\t{s1}\tNCBITaxon:9606\tHomo sapiens\t{c2}\t{s2}\t"
                    f"NCBITaxon:{tax}\t{sname}\tPANTHER\t1\t12\tYes\tNo")
    agr += [body[i] for i in rng.permutation(len(body))]
    _gz_write(os.path.join(root, "agr", f"dt={LANDING_DT}", "ORTHOLOGY-ALLIANCE_COMBINED.tsv.gz"),
              "\n".join(agr) + "\n")
    return {"hcop": len(hcop), "ncbi": len(ncbi) - 1, "agr": len(body)}


def _agr_line(l: list) -> str:
    g1, s1, sp1, g2, s2, sp2, methods, bs, brs = l[:9]
    _k1, t1, n1 = AGR_SPECIES[sp1]
    _k2, t2, n2 = AGR_SPECIES[sp2]
    n_alg = len(set(methods.split("|")))
    return (f"{g1}\t{s1}\tNCBITaxon:{t1}\t{n1}\t{g2}\t{s2}\tNCBITaxon:{t2}\t{n2}\t"
            f"{methods}\t{n_alg}\t12\t{'Yes' if bs else 'No'}\t{'Yes' if brs else 'No'}")


# ---------------------------------------------------------------------------
# Release N-1 store (the cascade in plain Python)
# ---------------------------------------------------------------------------


def _merged_relations(sp: dict) -> dict:
    """(src, dest) → (data_source, evidence string) after the A2 merge, for the
    human→species direction of release N-1."""
    ev = sp["ev_prev"]
    out = {}
    for p in sp["prev"]:
        h, _heg, g = p
        s = sp["src"][p]
        toks = sorted({EVIDENCE[t] for t in ev[p]})
        if s == "H":
            out[(h, g)] = ("HGNC", ", ".join(toks))
        elif s == "N":
            out[(h, g)] = ("NCBI", "Ortholog")
        else:
            out[(h, g)] = ("HGNC", ", ".join(sorted(set(toks) | {"NCBI"})))
    return out


def _best_fit(cands: list[tuple], sym_of: dict, src: int) -> tuple:
    """W1 on one key's candidates [(dest, evidence)]."""
    counts = [len(e.split(",")) if e else 0 for _d, e in cands]
    top = max(counts)
    if counts.count(top) == 1:
        return cands[counts.index(top)]
    s = sym_of[src].lower()
    return sorted(
        cands,
        key=lambda c: (sym_of[c[0]].lower() != s, sym_of[c[0]].lower(), c[0]),
    )[0]


def prev_store_rows(w: World) -> tuple[list, list]:
    """Orthologs and weak associations the species loads of N-1 leave."""
    mutual = {}  # (src, dest species) → (partner, methods)
    for l in w.agr_prev_resolved:
        if l["bs"] == "Y" and l["brs"] == "Y":
            for a, b in ((l["id1"], l["id2"]), (l["id2"], l["id1"])):
                mutual.setdefault((a, w.species_of[b]), []).append((b, l["methods"]))
    orth, rels, covered = [], [], set()
    for name, sp in w.species.items():
        key = sp["key"]
        rel = _merged_relations(sp)
        rels.append(rel)
        closed = {}
        for (h, g), v in rel.items():
            closed.setdefault((h, key), []).append((g, v))
            closed.setdefault((g, HUMAN), []).append((h, v))
        covered.update(closed)
        manual = {(h, key): g for h, _e, g in sp["manual"]}
        for k, cands in closed.items():
            if k in manual:
                orth.append((k[0], manual[k], k[1], "RGD", "curated", CURATOR))
                continue
            m = mutual.get(k)
            if m and len(m) == 1:
                dest, methods = m[0]
                orth.append((k[0], dest, k[1], "Alliance", methods, PIPELINE))
                continue
            hg = [(d, v[1]) for d, v in cands if v[0] == "HGNC"]
            nc = [(d, v[1]) for d, v in cands if v[0] == "NCBI"]
            dest, ev = _best_fit(hg or nc, w.sym_of, k[0])
            orth.append((k[0], dest, k[1], "HGNC" if hg else "NCBI", ev, PIPELINE))
        # surplus: an older, lower-ranked NCBI row to another gene of the key
        prev = sp["prev"]
        pos = {p: i for i, p in enumerate(prev)}
        for p in sp["surplus"]:
            other = prev[(pos[p] + 7) % len(prev)][2]
            orth.append((p[0], other, key, "NCBI", "Ortholog", PIPELINE))
    # the cascade's Alliance tier picks every mutual-best key, whatever the
    # species being loaded, so earlier loads left a row for each
    for k, m in sorted(mutual.items()):
        if k not in covered and len(m) == 1:
            orth.append((k[0], m[0][0], k[1], "Alliance", m[0][1], PIPELINE))
    strong = {(o[0], o[1]) for o in orth}
    assoc = []
    for rel in rels:
        weak = {}
        for (h, g), (_s, ev) in rel.items():
            for a, b in ((h, g), (g, h)):
                if (a, b) not in strong:
                    weak[(a, b)] = min(weak.get((a, b), ev), ev)
        assoc += [(a, b, ev) for (a, b), ev in weak.items()]
    return orth, assoc


def _resolve_agr(w: World, lines: list) -> list[dict]:
    """Lines of processed species with both sides resolved to rgd ids, merged on
    (id1, id2, methods) with Y beating N."""
    out = {}
    for l in lines:
        lab1, lab2 = l[9], l[10]
        if lab1 is None or lab2 is None:
            continue
        i1 = w.label_ids.get(lab1)
        i2 = w.label_ids.get(lab2)
        if i1 is None or i2 is None:
            continue  # minted in this release: not in the N-1 store
        methods = "|".join(sorted(set(l[6].split("|"))))
        k = (i1, i2, methods)
        bs, brs = "Y" if l[7] else "N", "Y" if l[8] else "N"
        if k in out:
            o = out[k]
            bs, brs = max(bs, o["bs"]), max(brs, o["brs"])
        out[k] = {"id1": i1, "id2": i2, "methods": methods, "bs": bs, "brs": brs}
    return list(out.values())


def expected_agr_snapshot(w: World) -> list[tuple]:
    """The final agr_orthologs rows in curie-label space after the load of N:
    exactly the resolved, merged incoming set of release N."""
    out = {}
    for l in w.agr_cur:
        lab1, lab2 = l[9], l[10]
        if lab1 is None or lab2 is None:
            continue
        methods = "|".join(sorted(set(l[6].split("|"))))
        k = (lab1, lab2, methods)
        bs, brs = "Y" if l[7] else "N", "Y" if l[8] else "N"
        if k in out:
            bs, brs = max(bs, out[k][0]), max(brs, out[k][1])
        out[k] = (bs, brs)
    return sorted((a, b, m, "stringent", bs, brs) for (a, b, m), (bs, brs) in out.items())


# ---------------------------------------------------------------------------
# Parquet writers
# ---------------------------------------------------------------------------

_TS = pa.timestamp("us", tz="UTC")


def _write_table(store: str, table: str, columns: dict, types: dict,
                 partition_by: str | None = None) -> None:
    tdir = os.path.join(store, table)
    vdir = os.path.join(tdir, "v=0")
    os.makedirs(vdir, exist_ok=True)
    arrays = {c: pa.array(v, type=types[c]) for c, v in columns.items()}
    t = pa.table(arrays)
    if partition_by is None:
        pq.write_table(t, os.path.join(vdir, "part-00000.parquet"))
    else:
        keys = np.asarray(columns[partition_by])
        rest = [c for c in columns if c != partition_by]
        for k in sorted(set(keys.tolist())):
            mask = pa.array(keys == k)
            sub = t.filter(mask).select(rest)
            pdir = os.path.join(vdir, f"{partition_by}={k}")
            os.makedirs(pdir, exist_ok=True)
            pq.write_table(sub, os.path.join(pdir, "part-00000.parquet"))
    with open(os.path.join(tdir, "_CURRENT"), "w") as f:
        f.write("0")


def write_store(w: World, root: str) -> dict:
    i32, i64, s = pa.int32(), pa.int64(), pa.string()
    ts = PREV_TS.replace(tzinfo=dt.timezone.utc)
    old = (PREV_TS - dt.timedelta(days=400)).replace(tzinfo=dt.timezone.utc)
    # genes minted by the N-1 Alliance load are ordinary genes now
    g = w.genes
    _write_table(root, "genes", {
        "rgd_id": [r[0] for r in g], "gene_symbol": [r[1] for r in g],
        "gene_type_lc": [r[2] for r in g], "ensembl_gene_symbol": [r[3] for r in g],
        "species_type_key": [r[4] for r in g],
    }, {"rgd_id": i32, "gene_symbol": s, "gene_type_lc": s,
        "ensembl_gene_symbol": s, "species_type_key": i32})
    r = w.rgd_ids
    _write_table(root, "rgd_ids", {
        "rgd_id": [x[0] for x in r], "object_status": [x[1] for x in r],
        "species_type_key": [x[2] for x in r], "object_key": [x[3] for x in r],
        "replaced_by_rgd_id": [x[4] for x in r],
    }, {"rgd_id": i32, "object_status": s, "species_type_key": i32,
        "object_key": i32, "replaced_by_rgd_id": i32})
    x = w.xrefs
    _write_table(root, "xrefs", {
        "acc_xdb_key": list(range(1, len(x) + 1)), "rgd_id": [v[0] for v in x],
        "acc_id": [v[1] for v in x], "xdb_key": [v[2] for v in x],
        "src_pipeline": ["ENTREZGENE" if v[2] == ENTREZ else "AGR" for v in x],
        "modification_date": [old] * len(x),
    }, {"acc_xdb_key": i32, "rgd_id": i32, "acc_id": s, "xdb_key": i32,
        "src_pipeline": s, "modification_date": _TS})
    orth, assoc = prev_store_rows(w)
    _write_table(root, "orthologs", {
        "genetogene_key": list(range(1, len(orth) + 1)),
        "src_rgd_id": [o[0] for o in orth], "dest_rgd_id": [o[1] for o in orth],
        "src_species_type_key": [w.species_of[o[0]] for o in orth],
        "dest_species_type_key": [o[2] for o in orth],
        "group_id": [None] * len(orth), "xref_data_src": [o[3] for o in orth],
        "xref_data_set": [o[4] for o in orth], "ortholog_type_key": [11] * len(orth),
        "percent_homology": [None] * len(orth), "created_by": [o[5] for o in orth],
        "created_date": [old] * len(orth), "last_modified_by": [o[5] for o in orth],
        "last_modified_date": [ts] * len(orth),
    }, {"genetogene_key": i64, "src_rgd_id": i32, "dest_rgd_id": i32,
        "src_species_type_key": i32, "dest_species_type_key": i32, "group_id": i32,
        "xref_data_src": s, "xref_data_set": s, "ortholog_type_key": i32,
        "percent_homology": pa.float64(), "created_by": i32, "created_date": _TS,
        "last_modified_by": i32, "last_modified_date": _TS},
        partition_by="dest_species_type_key")
    _write_table(root, "associations", {
        "assoc_key": list(range(1, len(assoc) + 1)),
        "assoc_type": ["weak_ortholog"] * len(assoc),
        "assoc_subtype": [a[2] for a in assoc],
        "master_rgd_id": [a[0] for a in assoc], "detail_rgd_id": [a[1] for a in assoc],
        "creation_date": [old] * len(assoc), "src_pipeline": ["ORTHOLOGS"] * len(assoc),
    }, {"assoc_key": i64, "assoc_type": s, "assoc_subtype": s, "master_rgd_id": i32,
        "detail_rgd_id": i32, "creation_date": _TS, "src_pipeline": s})
    agr = w.agr_prev_resolved
    _write_table(root, "agr_orthologs", {
        "gene_rgd_id_1": [a["id1"] for a in agr], "gene_rgd_id_2": [a["id2"] for a in agr],
        "confidence": ["stringent"] * len(agr),
        "is_best_score": [a["bs"] for a in agr], "is_best_rev_score": [a["brs"] for a in agr],
        "methods_matched": [a["methods"] for a in agr],
        "created_date": [old] * len(agr), "last_update_date": [ts] * len(agr),
    }, {"gene_rgd_id_1": i32, "gene_rgd_id_2": i32, "confidence": s,
        "is_best_score": s, "is_best_rev_score": s, "methods_matched": s,
        "created_date": _TS, "last_update_date": _TS})
    return {"orthologs": len(orth), "associations": len(assoc), "agr_orthologs": len(agr)}


# ---------------------------------------------------------------------------
# Fixture
# ---------------------------------------------------------------------------


def _finish(w: World) -> None:
    w.landing_seed = int(w.rng.integers(0, 2**32))
    w.species_of = {g[0]: g[4] for g in w.genes}
    w.label_ids = {c: g for g, c in w.curie_of.items()}
    for g in w.species_of:
        w.label_ids.setdefault(f"RGD#{g}", g)
    w.agr_prev_resolved = _resolve_agr(w, w.agr_prev)


def build(seed: int, out_dir: str) -> dict:
    """Generate the world of ``seed`` into ``out_dir`` (landing/, store/,
    meta.json). Returns the meta dict."""
    w = World(seed)
    _finish(w)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    lines = write_landing(w, os.path.join(tmp, "landing"))
    rows = write_store(w, os.path.join(tmp, "store"))
    land = os.path.join(tmp, "landing")
    meta = {
        "seed": seed,
        "file_lines": lines,
        "file_bytes": {
            src: sum(os.path.getsize(os.path.join(r, f))
                     for r, _d, fs in os.walk(os.path.join(land, src)) for f in fs)
            for src in ("hcop", "ncbi", "agr")
        },
        "store_rows": rows,
        "species": [c[0] for c in COVERED],
        "agr_expected": expected_agr_snapshot(w),
        "agr_minted": w.agr_minted,
        "agr_in_scope": len(w.agr_cur),
        "manual_keys": sorted(
            [h, sp["key"], g] for sp in w.species.values() for h, _e, g in sp["manual"]
        ),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return meta


def fixture(seed: int, cache_root: str, repo_root: str) -> tuple[str, dict]:
    """The cached fixture dir for ``seed`` (built on first use) and its meta."""
    d = os.path.join(cache_root, version_key(repo_root), f"seed={seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        build(seed, d)
    with open(meta_path) as f:
        return d, json.load(f)
