"""Scale-growth probes for the dedup/pipeline family (VERDICT r5 #4).

Generates synthetic document corpora at 1x / 10x / 100x the sf0.1
fixture volume and measures wall-time for the bucketed dedup operators
(q30 inverted-index Jaccard, q31 MinHash-LSH, q60 corpus-prep, q72
substring-window dedup), converting the "linear in corpus size" claims
of SCALE.md from prose to data (the observed growth exponent between
consecutive decades).

Corpus realism knobs (what makes the probe honest):
- **Heaps' law vocabulary**: distinct-token count grows ~sqrt(corpus),
  so distinct-shingle space grows with scale and per-shingle document
  frequency stays bounded — exactly like real text. A fixed tiny vocab
  would let the MAX_SHINGLE_DF prune delete the whole workload at
  scale and fake sub-linear growth.
- **Zipf token draw** (s=0.8): hot tokens exist (the df-cap has real
  work), but accidental trigram collisions stay rare — like the
  fixture, where shared shingles mean near-dups, not chance.
- **Controlled duplicate rate**: ~2% exact dups + ~3% near-dups
  (single-token mutation), scale-invariant, so true-pair volume —
  and therefore LSH candidate volume — grows linearly by
  construction, matching the dedup-workload model.

Writes parquet to /tmp (never the read-only fixture tree). Run:
    python -m eventsgateway_spark.tools.scaleprobe [--mults 1,10] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import time

BASE_DOCS = 5_000  # sf0.1 documents row count
MEAN_TOKENS = 54  # sf0.1 mean tokens/doc
EXACT_DUP_PCT = 0.02
NEAR_DUP_PCT = 0.03
SOURCES = [f"src{i}" for i in range(5)]  # includes q60's eval source src0
LANGS = ["en", "es", "zh"]

PROBE_QUERIES = (
    "q30_jaccard_pairs",
    "q31_minhash_lsh_pairs",
    "q60_corpus_prep",
    "q72_substring_dedup",
    "q73_sequence_packing",
    "q74_token_budget_sample",
    "q75_domain_mixture",
    "q76_training_order",
    "q77_leakage_safe_split",
)


def _vocab(n_docs: int) -> list[str]:
    # Heaps' law: V = K * N^beta, beta ~ 0.5, K chosen so 5000 docs
    # (~270k tokens) get ~4k distinct tokens
    v = int(60 * math.sqrt(n_docs))
    return [f"w{i}" for i in range(v)]


def gen_corpus(out_dir: str, mult: int, seed: int = 7) -> str:
    """Write documents.parquet with mult * BASE_DOCS rows; returns the
    directory (layout-compatible with an sf_dir for document queries)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(path):
        return out_dir
    rng = random.Random(seed)
    n = BASE_DOCS * mult
    vocab = _vocab(n)
    # Zipf CUMULATIVE weights precomputed once — random.choices with
    # `weights=` recomputes the cumsum per call (O(V) each), which is
    # quadratic over the corpus; cum_weights= keeps each draw O(log V)
    import itertools

    cum_weights = list(
        itertools.accumulate(1.0 / (i + 1) ** 0.8 for i in range(len(vocab)))
    )
    docs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_PCT:
            docs.append(docs[rng.randrange(i)])
            continue
        if i > 0 and r < EXACT_DUP_PCT + NEAR_DUP_PCT:
            toks = docs[rng.randrange(i)].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
            docs.append(" ".join(toks))
            continue
        ln = max(6, int(rng.gauss(MEAN_TOKENS, 18)))
        docs.append(" ".join(rng.choices(vocab, cum_weights=cum_weights, k=ln)))
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "lang": pa.array([LANGS[i % len(LANGS)] for i in range(n)], pa.string()),
            "source": pa.array(
                [SOURCES[i % len(SOURCES)] for i in range(n)], pa.string()
            ),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, path)
    return out_dir


BASE_VECS = 2_000  # sf0.1 embeddings row count
EMB_DIM = 64  # fixture dim — keeps _EMB_ROW_BYTES calibration honest
EMB_NEAR_DUP_PCT = 0.03


def gen_embeddings(out_dir: str, mult: int, seed: int = 11) -> str:
    """Write embeddings.parquet with mult * BASE_VECS rows — gaussian
    unit-scale vectors with a scale-invariant ~3% near-dup rate
    (earlier vector + small perturbation), so q38's verify stage sees
    linearly-growing TRUE pairs like the document probe does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(path):
        return out_dir
    rng = random.Random(seed)
    n = BASE_VECS * mult
    vecs: list[list[float]] = []
    for i in range(n):
        if i > 0 and rng.random() < EMB_NEAR_DUP_PCT:
            base = vecs[rng.randrange(i)]
            vecs.append([x + rng.gauss(0, 0.01) for x in base])
        else:
            vecs.append([rng.gauss(0, 1) for _ in range(EMB_DIM)])
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, path)
    return out_dir


def run_lsh_probe(mults: tuple[int, ...] = (1, 10, 50), runs: int = 2,
                  root: str = "/tmp/scaleprobe_lsh") -> dict:
    """Growth probe for the input-size-derived LSH plane count
    (round 11): q38 at each scale with the auto-derived plane count,
    plus — at the mid scale — a contrast run pinned to the floor
    (6 planes), quantifying what the derivation saves. With planes
    fixed, candidate volume per table is ~N²/2^6 (quadratic); with the
    derived count, occupancy per bucket stays ~constant so candidates
    grow ~linearly. The floor contrast is probed only at the mid
    scale: at the top scale the fixed-plane candidate volume is the
    very blow-up the derivation exists to avoid."""
    from eventsgateway_spark.queries import QUERIES, ext_similarity
    from eventsgateway_spark.queries._util import unpin_all
    from eventsgateway_spark.session import get_spark

    spark = get_spark("lshprobe")
    warm = gen_embeddings(os.path.join(root, f"x{mults[0]}"), mults[0])
    QUERIES["q38_embedding_near_dup"](spark, warm).write.format("noop").mode(
        "overwrite"
    ).save()
    unpin_all()
    report: dict = {}
    for i, mult in enumerate(mults):
        sf_dir = gen_embeddings(os.path.join(root, f"x{mult}"), mult)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        np_auto, nt_auto = ext_similarity.lsh_family(
            emb, ext_similarity._ND_PLANES, ext_similarity._ND_TABLES
        )
        row: dict = {
            "n_vecs": BASE_VECS * mult, "planes": np_auto, "tables": nt_auto,
        }
        for variant in ("auto",) + (("floor6",) if i == len(mults) // 2 else ()):
            if variant == "floor6":
                # pin the floor by making the row estimate degenerate
                saved = ext_similarity._EMB_ROW_BYTES
                ext_similarity._EMB_ROW_BYTES = 1 << 60
            try:
                samples = []
                for _ in range(runs):
                    t0 = time.perf_counter()
                    QUERIES["q38_embedding_near_dup"](spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    samples.append(time.perf_counter() - t0)
                    unpin_all()
                row[variant] = round(min(samples), 2)
            finally:
                if variant == "floor6":
                    ext_similarity._EMB_ROW_BYTES = saved
        report[f"x{mult}"] = row
        print(f"x{mult}: {row}", flush=True)
    ms = [m for m in mults if f"x{m}" in report]
    if len(ms) >= 2:
        a, b = ms[-2], ms[-1]
        report["exponent_auto"] = round(
            math.log(report[f"x{b}"]["auto"] / report[f"x{a}"]["auto"])
            / math.log(b / a),
            2,
        )
    print(json.dumps(report))
    spark.stop()
    return report


def run_ivf_probe(mult: int = 50, nprobes: tuple[int, ...] = (1, 2, 4, 8),
                  n_queries: int = 30, root: str = "/tmp/scaleprobe_ivf",
                  train_iters: int = 4) -> dict:
    """Recall-vs-nprobe for the IVF serving index at scale (VERDICT
    r11 #8): build the index over the x``mult`` embedding corpus with
    the INPUT-DERIVED cell count (build_ivf_index's round-12 default;
    the fixture floor of 8 cells would make every probe scan 1/8 of
    the corpus and fake perfect recall), then answer two query
    populations at each nprobe, scoring recall@1 against the exact
    numpy top-1:

    - **fresh** gaussian queries — the hard ANN regime (the exact NN
      has moderate cosine; gaussian data has no cluster structure, so
      this is IVF's worst case and the nprobe knob's true price);
    - **neardup** queries (corpus members + noise at ~cos 0.95) — the
      dedup/serving regime the engine actually runs (semantic_dedup
      over an index); a near-copy lands in (or next to) its base's
      cell, so recall here is what the SemDeDup path relies on.

    Both are measured with the deterministic first-k seeding AND with
    ``train_iters`` Lloyd rounds — round 13: the trained index comes
    from the REAL builder (``build_ivf_index(train_iters=...)``,
    VERDICT r12 #2), not a hand-assembled IvfIndex, so this sweep
    measures exactly the path a production save would run."""
    import numpy as np

    from eventsgateway_spark.queries import ext_similarity
    from eventsgateway_spark.session import get_spark
    from eventsgateway_spark.streaming.ann_lookup import (
        ann_lookup_batch,
        build_ivf_index,
    )

    sf_dir = gen_embeddings(os.path.join(root, f"x{mult}"), mult)
    spark = get_spark("ivfprobe")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    k = ext_similarity.semd_cell_count(emb)

    # exact top-1 (numpy, float32-faithful: the corpus parquet stores
    # float32, so compare against the same promotion Spark reads)
    pdf = emb.toPandas().sort_values("vec_id")
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()

    rng = np.random.default_rng(23)
    fresh = rng.normal(0, 1, size=(n_queries, EMB_DIM))
    base_idx = rng.choice(len(ids), size=n_queries, replace=False)
    # sigma for ~cos 0.95 on unit-variance coords: sqrt(1/c^2 - 1)
    raw = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    neardup = raw[base_idx] + rng.normal(0, 0.3287, size=(n_queries, EMB_DIM))

    def query_frame(vecs, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )

    def exact_top1(vecs):
        Q = vecs.astype(np.float32).astype(np.float64)
        Q /= np.linalg.norm(Q, axis=1, keepdims=True)
        return [int(ids[int(np.argmax(M @ q))]) for q in Q]

    pops = {
        "fresh": (query_frame(fresh, 100_000_000), exact_top1(fresh)),
        "neardup": (query_frame(neardup, 200_000_000), exact_top1(neardup)),
    }

    report: dict = {"n_vecs": BASE_VECS * mult, "cells": k,
                    "train_iters": train_iters}
    seeded = build_ivf_index(emb, k)
    seeded.assign.count()
    trained = build_ivf_index(emb, k, train_iters=train_iters)
    trained.assign.count()
    for label, idx in (("seeded", seeded), ("trained", trained)):
        for pop, (qdf, exact) in pops.items():
            id0 = 100_000_000 if pop == "fresh" else 200_000_000
            for np_ in nprobes:
                t0 = time.perf_counter()
                got = {
                    r["qid"]: r["neighbor_id"]
                    for r in ann_lookup_batch(
                        # k hoisted (ADVICE r12): both indexes have
                        # exactly k cells — skip _cents_k's per-call
                        # driver job (16 sweep points would each pay
                        # one, mildly inflating low-nprobe wall_s)
                        qdf, idx.assign, idx.cents, nprobe=np_, topk=1,
                        k=k,
                    ).collect()
                }
                wall = time.perf_counter() - t0
                hits = sum(
                    1 for i, e in enumerate(exact) if got.get(id0 + i) == e
                )
                key = f"{label}_{pop}_nprobe{np_}"
                report[key] = {
                    "recall@1": f"{hits}/{n_queries}", "wall_s": round(wall, 2),
                }
                print(f"{key}: {report[key]}", flush=True)
    print(json.dumps(report))
    spark.stop()
    return report


MEDIA_BASE_SIGS = 50_000
MEDIA_NEAR_DUP_PCT = 0.03


def _gen_sigs(n: int, seed: int = 17, id0: int = 0):
    """(ids, sigs) — n synthetic 56-bit perceptual signatures: uniform
    random lanes plus a scale-invariant ~3% planted near-dup rate
    (earlier signature with 1..IMG_HAM_MAX distinct bit flips), the
    media analog of gen_corpus's duplicate model. Uniform random is
    the WORST case for the banding's birthday term (real dHashes
    cluster, concentrating true matches, not the floor)."""
    import numpy as np

    from eventsgateway_spark.queries.ext_dedup import IMG_HAM_MAX

    rng = np.random.default_rng(seed)
    sigs = rng.integers(0, 1 << 56, size=n, dtype=np.int64)
    dup_rows = np.flatnonzero(rng.random(n) < MEDIA_NEAR_DUP_PCT)
    for i in dup_rows:
        if i == 0:
            continue
        base = sigs[rng.integers(0, i)]
        # flip radius derived from the SAME constant the query/recall
        # side uses — a literal here would silently de-synchronize the
        # planted-pair model from the bound if IMG_HAM_MAX ever moved
        flips = rng.choice(56, size=int(rng.integers(1, IMG_HAM_MAX + 1)),
                           replace=False)
        mask = np.int64(0)
        for b in flips:
            mask |= np.int64(1) << np.int64(b)
        sigs[i] = base ^ mask
    return np.arange(id0, id0 + n, dtype=np.int64), sigs


def _gen_sigs_wide(n: int, bands: int, band_w: int, seed: int = 17,
                   id0: int = 0):
    """(ids, sigs[n x bands]) — wide synthetic signatures at an
    explicit geometry (one band_w-bit word per band), same uniform-
    worst-case + planted near-dup model as :func:`_gen_sigs`."""
    import numpy as np

    from eventsgateway_spark.queries.ext_dedup import IMG_HAM_MAX

    rng = np.random.default_rng(seed)
    sigs = rng.integers(0, 1 << band_w, size=(n, bands), dtype=np.int64)
    dup_rows = np.flatnonzero(rng.random(n) < MEDIA_NEAR_DUP_PCT)
    for i in dup_rows:
        if i == 0:
            continue
        base = sigs[rng.integers(0, i)].copy()
        flips = rng.choice(bands * band_w,
                           size=int(rng.integers(1, IMG_HAM_MAX + 1)),
                           replace=False)
        for fb in flips:
            base[fb // band_w] ^= np.int64(1) << np.int64(fb % band_w)
        sigs[i] = base
    return np.arange(id0, id0 + n, dtype=np.int64), sigs


def run_media_probe(mults: tuple[int, ...] = (1, 4, 10),
                    n_queries: int = 2_000, n_append: int = 5_000) -> dict:
    """Serving-path growth probe for the durable media-signature index
    (VERDICT r13 #4): the BATCH pair join has measured exponents (q89
    0.90 / q90 0.71, SCALE.md round-13); this measures the other two
    media surfaces at ``mults`` x :data:`MEDIA_BASE_SIGS` corpus sizes:

    - ``append_media_index`` wall for a FIXED admission batch (plus a
      pure-replay append) — the round-14 claim under test is that
      admission cost is O(batch + touched buckets), NOT O(corpus): the
      wall should stay ~flat as the corpus grows 10x.
    - ``media_lookup_batch`` wall + candidate volume for a FIXED query
      batch (half planted near-dups of indexed signatures, half
      fresh). Realized candidates are checked against the prediction
      computed FROM THE ``_occ`` SUMMARY (sum over the query's
      (band,bval) buckets of corpus-occupancy x query-occupancy — the
      serving analog of q92's sum_occ_sq batch audit) and against the
      uniform birthday floor n_q * N * bands / 2^band_w. With the
      FIXED 7x8 geometry the floor is LINEAR in corpus size — the
      honest scale statement is that per-lookup cost tracks bucket
      occupancy, so past ~10^7 uniform signatures the geometry itself
      must grow (band_w ~ log2 N) to hold occupancy constant; the
      probe prints the measured slope so SCALE.md can say it with
      numbers, not prose.
    - planted-near-dup recall through the index (must be exact:
      pigeonhole guarantees every planted pair within Hamming 6)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from eventsgateway_spark.queries.ext_dedup import (
        IMG_HAM_BANDS,
        IMG_HAM_MAX,
        _IMG_BAND_W,
        banded_signatures,
    )
    from eventsgateway_spark.session import get_spark
    from eventsgateway_spark.streaming.media_dup import (
        append_media_index,
        load_media_index,
        media_lookup_batch,
        save_media_index,
    )

    spark = get_spark("mediaprobe")
    report: dict = {"bands": IMG_HAM_BANDS, "band_w": _IMG_BAND_W,
                    "n_queries": n_queries, "n_append": n_append}
    rng = np.random.default_rng(29)
    for mult in mults:
        n = MEDIA_BASE_SIGS * mult
        ids, sigs = _gen_sigs(n)
        prefix = f"mprobe_x{mult}"
        for s in ("_meta", "_bands", "_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}{s}")
        sig_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": ids, "dhash": sigs})
        )
        t0 = time.perf_counter()
        save_media_index(sig_df, prefix, buckets=32)
        build_s = time.perf_counter() - t0

        # fixed-size admission batch (fresh ids/sigs), then a replay
        a_ids, a_sigs = _gen_sigs(n_append, seed=31, id0=500_000_000)
        a_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": a_ids, "dhash": a_sigs})
        )
        t0 = time.perf_counter()
        r_app = append_media_index(spark, prefix, a_df)
        append_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        append_media_index(spark, prefix, a_df)
        replay_s = time.perf_counter() - t0
        idx = load_media_index(spark, prefix)  # reopen: appended rows

        # fixed query batch: half planted near-dups (flip 1..6 bits of
        # an indexed signature), half fresh uniform
        half = n_queries // 2
        base_rows = rng.choice(n, size=half, replace=False)
        q_sigs = np.empty(n_queries, dtype=np.int64)
        planted_base = ids[base_rows]
        for j, row in enumerate(base_rows):
            flips = rng.choice(56, size=int(rng.integers(1, IMG_HAM_MAX + 1)),
                               replace=False)
            mask = np.int64(0)
            for b in flips:
                mask |= np.int64(1) << np.int64(b)
            q_sigs[j] = sigs[row] ^ mask
        q_sigs[half:] = rng.integers(0, 1 << 56, size=n_queries - half,
                                     dtype=np.int64)
        q_ids = np.arange(1_000_000_000, 1_000_000_000 + n_queries,
                          dtype=np.int64)
        q_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": q_ids, "dhash": q_sigs})
        ).localCheckpoint()

        t0 = time.perf_counter()
        hits = media_lookup_batch(q_df, idx).collect()
        lookup_s = time.perf_counter() - t0
        # recall = the PLANTED base must appear among the query's hits
        # (round-14 review: counting any-within-bound match would let a
        # lookup that returns wrong-but-close docs still score 100%;
        # the ivf probe's got==expected discipline, adapted to a
        # set-valued result — another doc CAN legitimately be closer)
        hit_pairs = {(r["qid"], r["doc_id"]) for r in hits}
        recall = sum(
            1 for j in range(half)
            if (int(q_ids[j]), int(planted_base[j])) in hit_pairs
        )
        # realized candidate volume (pre-verify pair rows) and the
        # _occ-summary prediction for THIS query batch
        q_banded = banded_signatures(q_df, "dhash", IMG_HAM_BANDS,
                                     _IMG_BAND_W)
        realized = (
            idx.bands.join(q_banded.select("band", "bval"), ["band", "bval"])
            .count()
        )
        q_occ = q_banded.groupBy("band", "bval").agg(
            F.count(F.lit(1)).alias("qn")
        )
        predicted = (
            spark.table(f"{prefix}_occ")
            .join(q_occ, ["band", "bval"])
            .selectExpr("sum(n * qn) AS p")
            .collect()[0]["p"]
        )
        floor = n_queries * (n + n_append) * IMG_HAM_BANDS / (
            1 << _IMG_BAND_W
        )
        row = {
            "n_sigs": n + n_append,
            "build_s": round(build_s, 2),
            "append_s": round(append_s, 2),
            "append_replay_s": round(replay_s, 2),
            "append_skew": round(r_app["bucket_skew"], 2),
            "lookup_s": round(lookup_s, 2),
            "cand_realized": int(realized),
            "cand_predicted_occ": int(predicted),
            "cand_birthday_floor": int(floor),
            "planted_recall": f"{recall}/{half}",
        }
        report[f"x{mult}"] = row
        print(f"x{mult}: {row}", flush=True)
        for s in ("_meta", "_bands", "_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}{s}")

        # ---- derived-geometry leg (round 15 — VERDICT r14 #2): the
        # SAME corpus size at media_geometry_for_rows(n): band_w grows
        # ~log2 N, signatures are wide array<bigint> words, and the
        # per-lookup candidate volume should hold ~flat where the
        # fixed 7x8 leg above grows linearly.
        from eventsgateway_spark.queries.ext_dedup import (
            media_geometry_for_rows,
        )

        d_bands, d_w = media_geometry_for_rows(n)
        ids_d, sigs_d = _gen_sigs_wide(n, d_bands, d_w)
        dprefix = f"mprobed_x{mult}"
        for s in ("_meta", "_bands", "_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {dprefix}{s}")
        sig_df_d = spark.createDataFrame(
            pd.DataFrame({"doc_id": ids_d, "dhash": sigs_d.tolist()}),
            schema="doc_id long, dhash array<bigint>",
        )
        t0 = time.perf_counter()
        save_media_index(sig_df_d, dprefix, buckets=32, bands=d_bands,
                         band_w=d_w)
        build_d = time.perf_counter() - t0
        a_ids_d, a_sigs_d = _gen_sigs_wide(n_append, d_bands, d_w, seed=31,
                                           id0=500_000_000)
        a_df_d = spark.createDataFrame(
            pd.DataFrame({"doc_id": a_ids_d, "dhash": a_sigs_d.tolist()}),
            schema="doc_id long, dhash array<bigint>",
        )
        t0 = time.perf_counter()
        append_media_index(spark, dprefix, a_df_d)
        append_d = time.perf_counter() - t0
        idx_d = load_media_index(spark, dprefix)

        half = n_queries // 2
        base_rows = rng.choice(n, size=half, replace=False)
        q_sigs_d = np.empty((n_queries, d_bands), dtype=np.int64)
        planted_base_d = ids_d[base_rows]
        for j, row_i in enumerate(base_rows):
            s = sigs_d[row_i].copy()
            flips = rng.choice(d_bands * d_w,
                               size=int(rng.integers(1, IMG_HAM_MAX + 1)),
                               replace=False)
            for fb in flips:
                s[fb // d_w] ^= np.int64(1) << np.int64(fb % d_w)
            q_sigs_d[j] = s
        q_sigs_d[half:] = rng.integers(0, 1 << d_w,
                                       size=(n_queries - half, d_bands),
                                       dtype=np.int64)
        q_ids_d = np.arange(1_000_000_000, 1_000_000_000 + n_queries,
                            dtype=np.int64)
        q_df_d = spark.createDataFrame(
            pd.DataFrame({"doc_id": q_ids_d, "dhash": q_sigs_d.tolist()}),
            schema="doc_id long, dhash array<bigint>",
        ).localCheckpoint()
        t0 = time.perf_counter()
        hits_d = media_lookup_batch(q_df_d, idx_d).collect()
        lookup_d = time.perf_counter() - t0
        hit_pairs_d = {(r["qid"], r["doc_id"]) for r in hits_d}
        recall_d = sum(
            1 for j in range(half)
            if (int(q_ids_d[j]), int(planted_base_d[j])) in hit_pairs_d
        )
        q_banded_d = banded_signatures(q_df_d, "dhash", d_bands, d_w)
        realized_d = (
            idx_d.bands.join(q_banded_d.select("band", "bval"),
                             ["band", "bval"]).count()
        )
        floor_d = n_queries * (n + n_append) * d_bands / (1 << d_w)
        drow = {
            "n_sigs": n + n_append,
            "geometry": f"{d_bands}x{d_w}",
            "build_s": round(build_d, 2),
            "append_s": round(append_d, 2),
            "lookup_s": round(lookup_d, 2),
            "cand_realized": int(realized_d),
            "cand_birthday_floor": int(floor_d),
            "planted_recall": f"{recall_d}/{half}",
        }
        report[f"x{mult}_derived"] = drow
        print(f"x{mult}_derived: {drow}", flush=True)
        for s in ("_meta", "_bands", "_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {dprefix}{s}")
    ms = sorted(m for m in mults)
    if len(ms) >= 2:
        a, b = f"x{ms[-2]}", f"x{ms[-1]}"
        for key in ("append_s", "lookup_s"):
            if report[a][key] > 0 and report[b][key] > 0:
                report[f"{key}_exponent"] = round(
                    math.log(report[b][key] / report[a][key])
                    / math.log(ms[-1] / ms[-2]), 2,
                )
        # candidate-volume growth exponents, fixed vs derived — the
        # round-15 claim: derived geometry turns the measured ~1.0
        # (linear birthday floor) into ~flat
        for leg, key in (("", "cand_exponent_fixed"),
                         ("_derived", "cand_exponent_derived")):
            ra, rb = report[f"{a}{leg}"], report[f"{b}{leg}"]
            if ra["cand_realized"] > 0 and rb["cand_realized"] > 0:
                report[key] = round(
                    math.log(rb["cand_realized"] / ra["cand_realized"])
                    / math.log(ms[-1] / ms[-2]), 2,
                )
    print(json.dumps(report))
    spark.stop()
    return report


def run_probe(mults: tuple[int, ...] = (1, 10, 100), runs: int = 2,
              root: str = "/tmp/scaleprobe",
              probe_queries: tuple[str, ...] = PROBE_QUERIES) -> dict:
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries._util import unpin_all
    from eventsgateway_spark.session import get_spark

    spark = get_spark("scaleprobe")
    # one unmeasured pass at the smallest scale: JIT + codegen + file
    # listing warmup otherwise lands entirely on the first timed query
    warm_dir = gen_corpus(os.path.join(root, f"x{mults[0]}"), mults[0])
    for name in probe_queries:
        QUERIES[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
    results: dict[str, dict[int, float]] = {q: {} for q in probe_queries}
    for mult in mults:
        sf_dir = gen_corpus(os.path.join(root, f"x{mult}"), mult)
        for name in probe_queries:
            samples = []
            for _ in range(runs):
                # every sample starts cold: a pin left by the previous
                # sample (the registry wrapper keeps a query's own
                # pins across its re-runs) would let a repeat time the
                # reuse path and fake the growth exponent; released
                # pins also stop accumulating across queries/scales
                # and squeezing memory in the x100 timings
                unpin_all()
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(time.perf_counter() - t0)
            results[name][mult] = round(min(samples), 2)
            print(f"x{mult} {name}: {results[name][mult]}s", flush=True)
        unpin_all()
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
    report = {}
    for name, times in results.items():
        row: dict = {f"x{m}": t for m, t in times.items()}
        ms = sorted(times)
        # a sub-centisecond timing rounds to 0.0 — log of that would
        # throw at report time and discard the whole (expensive) run;
        # the exponent is meaningless at that resolution, so omit it
        if len(ms) >= 2 and times[ms[-2]] > 0 and times[ms[-1]] > 0:
            m0, m1 = ms[-2], ms[-1]
            row["exponent"] = round(
                math.log(times[m1] / times[m0]) / math.log(m1 / m0), 2
            )
        report[name] = row
    print(json.dumps(report))
    spark.stop()
    return report


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    # default=None so each mode can pick ITS recorded protocol when the
    # flag is absent: sniffing sys.argv instead missed argparse's
    # prefix abbreviations (--mult) and silently ran the wrong scale
    # (round-12 review follow-up)
    ap.add_argument("--mults", default=None,
                    help="comma-separated scale multipliers "
                         "(default: 1,10,100; --ivf default: 50)")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--queries", default=",".join(PROBE_QUERIES),
                    help="comma-separated subset of the probe set")
    ap.add_argument("--lsh", action="store_true",
                    help="run the embeddings/LSH plane-scaling probe instead")
    ap.add_argument("--ivf", action="store_true",
                    help="run the IVF recall-vs-nprobe probe instead")
    ap.add_argument("--media", action="store_true",
                    help="run the media-signature index serving probe instead")
    args = ap.parse_args()
    if args.media:
        # default protocol: 50k -> 200k -> 500k signatures (x1,4,10)
        mults = args.mults or "1,4,10"
        run_media_probe(tuple(int(m) for m in mults.split(",")))
    elif args.ivf:
        # single-scale probe: last element of an explicit --mults, else
        # x50 — the SCALE.md round-12 protocol (100k vectors / 262
        # derived cells)
        run_ivf_probe(int(args.mults.split(",")[-1]) if args.mults else 50)
    elif args.lsh:
        mults = args.mults or "1,10,100"
        run_lsh_probe(tuple(int(m) for m in mults.split(",")), args.runs)
    else:
        mults = args.mults or "1,10,100"
        run_probe(tuple(int(m) for m in mults.split(",")), args.runs,
                  probe_queries=tuple(args.queries.split(",")))
