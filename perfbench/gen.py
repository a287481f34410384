"""Seeded input generator for the benchmark.

Every input the program under test sees is written here, from the seed
alone: the same seed gives byte-identical files (test_gen.py checks it).

  study_load     study tree: N studies, each with ClinicalDataToUpload,
                 ExpressionDataToUpload (matrix + subject-sample mapping +
                 platform file) and VCFDataToUpload (VCF + mapping with the
                 `# STUDY_ID` meta line), in the FIXTURES.md schemas.
  curate_cycles  an initial corpus, ingest batches with injected exact and
                 near duplicates of corpus docs, and takedown lists.
  query_catalog  the sf tables (region ... documents, embeddings) in the
                 schemas of the sf test tables (TESTDATA.md), at sf0.1 size.

Each generator also writes `expect.json`, the facts the output checks need
(cell counts, injected duplicate pairs, takedown ids).

Run stand-alone: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. Changing any of these changes the benchmark.
STUDIES = 6             # study directories generated (the loop uses a prefix)
SUBJECTS = 40           # clinical subjects per study
SAMPLES = 12            # expression / VCF samples per study (first subjects)
PROBES = 200            # expression probes (shared platform)
VARIANTS = 60           # VCF data lines per study
CORPUS_DOCS = 600       # initial curated corpus
BATCHES = 12            # ingest batches generated (the loop uses a prefix)
BATCH_DOCS = 100        # docs per batch
EXACT_PER_BATCH = 8     # injected exact duplicates of corpus docs
NEAR_PER_BATCH = 4      # injected near duplicates (one word changed)
TAKEDOWNS = 6           # takedown lists generated
TAKEDOWN_IDS = 5        # ids per takedown list
SF_LINEITEM = 600_000   # sf0.1 row counts
SF_ORDERS = 150_000
SF_CUSTOMER = 15_000
SF_PART = 20_000
SF_SUPPLIER = 1_000
SF_DOCUMENTS = 5_000
SF_EMBEDDINGS = 2_000
EMBED_DIM = 64

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data the join vector customer").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
PLATFORM = "GPLPB1"


def write_text(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def tsv(rows):
    return "".join("\t".join(str(c) for c in r) + "\n" for r in rows)


# ------------------------------------------------------------- study tree

def study_id(i):
    return f"PB{i:03d}"


def study_label(i):
    return f"Bench Study {i:03d}"


def gen_study(rng, root, i):
    sid, label = study_id(i), study_label(i)
    sdir = os.path.join(root, label)
    subjects = [f"S{i:03d}_{k:04d}" for k in range(SUBJECTS)]

    # clinical: STUDY_ID, SUBJ_ID + two mapped variables, every cell set
    clin = [["STUDY_ID", "SUBJ_ID", "Age", "Sex"]]
    for s in subjects:
        clin.append([sid, s, rng.randint(18, 90), rng.choice(["Male", "Female"])])
    cdir = os.path.join(sdir, "ClinicalDataToUpload")
    write_text(os.path.join(cdir, "DEMO.txt"), tsv(clin))
    write_text(os.path.join(cdir, f"PB{i:03d}_Mapping_File.txt"), tsv([
        ["filename", "category_cd", "col_nbr", "data_label",
         "data_label_source", "variable_type", "validation_rules"],
        ["DEMO.txt", "", 1, "STUDY_ID", "", "", ""],
        ["DEMO.txt", "", 2, "SUBJ_ID", "", "", ""],
        ["DEMO.txt", "Subjects+Demographics", 3, "Age", "", "", ""],
        ["DEMO.txt", "Subjects+Demographics", 4, "Sex", "", "", ""],
    ]))

    # expression: raw matrix (ID_REF x samples), mapping, platform file
    samples = [f"GSM{i:03d}{k:04d}" for k in range(SAMPLES)]
    edir = os.path.join(sdir, "ExpressionDataToUpload")
    mapping = [["STUDY_ID", "SITE_ID", "SUBJECT_ID", "SAMPLE_ID", "PLATFORM",
                "TISSUETYPE", "ATTR1", "ATTR2", "CATEGORY_CD"]]
    for s, smp in zip(subjects, samples):
        mapping.append([sid, "", s, smp, PLATFORM, "Blood", "", "",
                        "Biomarker_Data+PLATFORM+TISSUETYPE"])
    write_text(os.path.join(edir, f"PB{i:03d}_Subject_Sample_Mapping_File.txt"),
               tsv(mapping))
    matrix = [["ID_REF"] + samples]
    for p in range(PROBES):
        matrix.append([f"{p + 1000}_at"] +
                      [f"{rng.uniform(2.0, 14.0):.6f}" for _ in samples])
    write_text(os.path.join(edir, f"PB{i:03d}_Gene_Expression_Data_R.txt"),
               tsv(matrix))
    platform = (f"# PLATFORM_ID: {PLATFORM}\n# PLATFORM_TITLE: Bench Platform\n"
                "# PLATFORM_SPECIES: Homo Sapiens\n" +
                tsv([["ID", "ENTREZ_GENE_ID", "Gene Symbol",
                      "Species Scientific Name"]] +
                    [[f"{p + 1000}_at", 5000 + p, f"GENE{p}", "Homo Sapiens"]
                     for p in range(PROBES)]))
    write_text(os.path.join(edir, f"{PLATFORM}.txt"), platform)

    # VCF: one file, samples = the expression samples' subjects
    vdir = os.path.join(sdir, "VCFDataToUpload")
    vsamples = [f"VS{i:03d}{k:04d}" for k in range(SAMPLES)]
    write_text(os.path.join(vdir, f"PB{i:03d}_Subject_Sample_Mapping_File.txt"),
               f"# STUDY_ID: {sid}\n# GENOME_BUILD: hg19\n" +
               tsv([["SUBJECT_ID", "SAMPLE_CD"]] +
                   [[s, v] for s, v in zip(subjects, vsamples)]))
    lines = ["##fileformat=VCFv4.1",
             '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
             '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele freq">',
             "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                        "INFO", "FORMAT"] + vsamples)]
    pos = 10_000
    for v in range(VARIANTS):
        pos += rng.randint(50, 5000)
        ref, alt = rng.sample("ACGT", 2)
        gts = [rng.choice(["0/0", "0/1", "1/1", "0|1"]) for _ in vsamples]
        lines.append("\t".join([str(1 + v % 22), str(pos), f"rs{i}{v:05d}",
                                ref, alt, "50", "PASS",
                                f"DP={rng.randint(5, 90)};AF={rng.random():.3f}",
                                "GT"] + gts))
    write_text(os.path.join(vdir, f"PB{i:03d}.vcf"), "\n".join(lines) + "\n")
    return {"study_id": sid, "label": label, "subjects": SUBJECTS,
            "clinical_cells": SUBJECTS * 2, "samples": SAMPLES, "probes": PROBES}


def gen_study_load(seed, out):
    rng = random.Random(seed)
    studies = [gen_study(rng, os.path.join(out, "studies", f"{i:03d}"), i)
               for i in range(STUDIES)]
    return {"workload": "study_load", "seed": seed, "studies": studies}


# --------------------------------------------------------------- curation

def doc_text(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(30, 80)))


def write_docs(path, ids, texts):
    os.makedirs(path, exist_ok=True)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def gen_curate_cycles(seed, out):
    rng = random.Random(seed)
    seen = set()

    def fresh():
        while True:
            t = doc_text(rng)
            if t not in seen:
                seen.add(t)
                return t

    corpus_texts = [fresh() for _ in range(CORPUS_DOCS)]
    corpus_ids = list(range(CORPUS_DOCS))
    write_docs(os.path.join(out, "corpus"), corpus_ids, corpus_texts)
    # takedown ids and duplicate sources come from disjoint parts of the
    # corpus, so a retraction never turns a later exact duplicate into a keep
    order = corpus_ids[:]
    rng.shuffle(order)
    takedown_pool = order[:TAKEDOWNS * TAKEDOWN_IDS]
    dup_sources = order[TAKEDOWNS * TAKEDOWN_IDS:]
    batches = []
    next_id = 1_000_000
    for b in range(BATCHES):
        ids, texts, exact, near = [], [], [], []
        for _ in range(EXACT_PER_BATCH):
            src = rng.choice(dup_sources)
            ids.append(next_id); texts.append(corpus_texts[src])
            exact.append([next_id, src]); next_id += 1
        for _ in range(NEAR_PER_BATCH):
            src = rng.choice(dup_sources)
            words = corpus_texts[src].split()
            k = rng.randrange(len(words))
            words[k] = "zzz" + words[k]
            t = " ".join(words)
            seen.add(t)
            ids.append(next_id); texts.append(t)
            near.append([next_id, src]); next_id += 1
        for _ in range(BATCH_DOCS - EXACT_PER_BATCH - NEAR_PER_BATCH):
            ids.append(next_id); texts.append(fresh()); next_id += 1
        perm = list(range(len(ids)))
        rng.shuffle(perm)
        write_docs(os.path.join(out, "batches", f"b{b:03d}"),
                   [ids[k] for k in perm], [texts[k] for k in perm])
        batches.append({"size": len(ids), "exact": exact, "near": near})
    takedowns = []
    for t in range(TAKEDOWNS):
        tids = takedown_pool[t * TAKEDOWN_IDS:(t + 1) * TAKEDOWN_IDS]
        p = os.path.join(out, "takedowns", f"t{t:03d}")
        os.makedirs(p, exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(tids, pa.int64())}),
                       os.path.join(p, "part-00000.parquet"))
        takedowns.append(tids)
    return {"workload": "curate_cycles", "seed": seed,
            "corpus_docs": CORPUS_DOCS, "batches": batches,
            "takedowns": takedowns}


# ---------------------------------------------------------------- sf tables

def gen_query_catalog(seed, out):
    rng = np.random.default_rng(seed)
    sf = os.path.join(out, "sf")
    os.makedirs(sf, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(sf, f"{name}.parquet"))

    def ts(days):  # day offsets from 1995-01-01 -> timestamp[us]
        base = np.datetime64("1995-01-01", "us")
        return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{k}" for k in range(25)],
                     "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write("customer", {
        "c_custkey": pa.array(np.arange(SF_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(SF_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, SF_CUSTOMER), pa.int32()),
        "c_acctbal": money(-999, 9999, SF_CUSTOMER),
        "c_mktsegment": segs[rng.integers(0, 5, SF_CUSTOMER)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(SF_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(SF_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, SF_SUPPLIER), pa.int32()),
        "s_acctbal": money(-999, 9999, SF_SUPPLIER)})
    adj = np.array(["large", "hot", "small", "cold", "red", "blue", "green", "shiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    write("part", {
        "p_partkey": pa.array(np.arange(SF_PART), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, SF_PART)], " "),
                              noun[rng.integers(0, 6, SF_PART)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, SF_PART).astype(str)),
        "p_type": types[rng.integers(0, 6, SF_PART)],
        "p_size": pa.array(rng.integers(1, 51, SF_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(SF_PART) % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(SF_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SF_CUSTOMER, SF_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, SF_ORDERS)],
        "o_totalprice": money(900, 500000, SF_ORDERS),
        "o_orderdate": ts(rng.integers(0, 2404, SF_ORDERS)),
        "o_orderpriority": prio[rng.integers(0, 5, SF_ORDERS)]})
    # lineitem: (orderkey, linenumber) deliberately not unique, as in the
    # sf test tables
    n = SF_LINEITEM
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, SF_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SF_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SF_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 100000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": ts(rng.integers(1, 2499, n))})
    words = np.array(WORDS)
    lens = rng.integers(8, 100, SF_DOCUMENTS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    write("documents", {
        "doc_id": pa.array(np.arange(SF_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), SF_DOCUMENTS)],
        "source": [f"src{k % 20}" for k in range(SF_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0, 0.12, (SF_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(SF_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, SF_EMBEDDINGS), pa.int32())})
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "queries.json")) as f:
        families = json.load(f)
    return {"workload": "query_catalog", "seed": seed, "sf_dir": "sf",
            "families": [{"family": k, "queries": v} for k, v in families.items()]}


GENERATORS = {"study_load": gen_study_load, "curate_cycles": gen_curate_cycles,
              "query_catalog": gen_query_catalog}


def generate(workload, seed, out):
    """Write the workload's inputs under `out` (created fresh) and return
    the expectations, also written to `out/expect.json`."""
    os.makedirs(out, exist_ok=True)
    expect = GENERATORS[workload](seed, out)
    write_text(os.path.join(out, "expect.json"),
               json.dumps(expect, indent=1, sort_keys=True) + "\n")
    return expect


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
