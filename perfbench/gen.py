"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, sizes): the same seed writes
byte-identical parquet. Generation runs before the JVM starts, so it is
never inside a timed window or inside `setup_s`.

Shapes:
  * cmapss -- a C-MAPSS-FD001-shaped run-to-failure table (engines,
             cycles, 3 operating settings, 21 sensors, RUL label) with
             id columns to drop and one all-NULL column, plus a
             held-out test table of other engines.
  * corpus -- documents and embeddings (the engine's `documents` and
             `embeddings` table schemas) with a seed-planted share of
             near-duplicate copies (the ground truth pairs are written
             too), a kNN corpus with its query batch, and an append
             batch.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIM = 64


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _unit_rows(m):
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, type=pa.int32())})


def _doc_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": pa.array(sources, type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})


def cmapss(out, seed, engines, test_engines, min_life, max_life):
    """Run-to-failure train table + held-out test engines (CSV, as the
    reference ingests them)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    # per-sensor baseline, degradation slope and noise: a few sensors
    # are flat (as in FD001) and the rest drift with wear
    base = rng.uniform(1.0, 600.0, 21)
    slope = np.where(rng.random(21) < 0.3, 0.0, rng.uniform(-0.05, 0.05, 21))
    noise = rng.uniform(0.01, 0.5, 21)

    def table(first_engine, n_engines):
        cols = {k: [] for k in
                ["dataset", "unit_serial", "engine_no", "time_in_cycles",
                 "op_setting_1",
                 "op_setting_2", "op_setting_3"] +
                [f"sensor_{i}" for i in range(1, 22)] +
                ["sensor_null", "RUL"]}
        for e in range(first_engine, first_engine + n_engines):
            life = int(rng.integers(min_life, max_life + 1))
            cyc = np.arange(1, life + 1)
            wear = (cyc / life) ** 2 * life
            cols["dataset"] += ["FD001"] * life
            cols["unit_serial"] += [f"SN-{e:05d}"] * life
            cols["engine_no"] += [e] * life
            cols["time_in_cycles"] += cyc.tolist()
            cols["op_setting_1"] += np.round(rng.normal(0, 0.002, life), 4).tolist()
            cols["op_setting_2"] += np.round(rng.normal(0, 0.0003, life), 4).tolist()
            cols["op_setting_3"] += [100.0] * life
            for i in range(21):
                v = base[i] + slope[i] * wear + rng.normal(0, noise[i], life)
                cols[f"sensor_{i + 1}"] += np.round(v, 4).tolist()
            cols["sensor_null"] += [None] * life
            cols["RUL"] += (life - cyc).tolist()
        return cols

    def write_csv(cols, path):
        names = list(cols)
        with open(path, "w") as f:
            f.write(",".join(names) + "\n")
            for row in zip(*(cols[n] for n in names)):
                f.write(",".join("" if v is None else str(v) for v in row))
                f.write("\n")

    write_csv(table(1, engines), f"{out}/train_FD001.csv")
    write_csv(table(engines + 1, test_engines), f"{out}/test_FD001.csv")


def corpus(out, seed, n_docs, n_emb, dup_frac, n_index, n_queries, n_append):
    """Curation corpus with planted near-duplicates and their truth, a
    separate vector corpus for the standing kNN index, its query batch,
    and an append batch of documents and vectors."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)

    def docs(first_id, n):
        n_dup = int(n * dup_frac)
        n_exact = int(n * dup_frac / 4)
        n_orig = n - n_dup - n_exact
        texts = [_text(rng, k) for k in rng.integers(30, 96, n_orig)]
        pairs = []
        for j in range(n_dup):
            src = int(rng.integers(0, n_orig))
            words = texts[src].split()
            # near-duplicate: one word substituted, one appended
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
            pairs.append((first_id + src, first_id + n_orig + j))
        # exact duplicates up to case and whitespace
        for src in rng.integers(0, n_orig, n_exact):
            texts.append(" " + "  ".join(texts[src].upper().split()))
        ids = np.arange(first_id, first_id + n)
        return (_doc_table(ids, texts,
                           rng.choice(LANGS, n, p=LANG_P).tolist(),
                           [f"src{i % 20}" for i in range(n)]), pairs)

    def vectors(first_id, n):
        n_dup = int(n * dup_frac)
        n_orig = n - n_dup
        centers = rng.normal(size=(10, DIM))
        labels = rng.integers(0, 10, n)
        v = _unit_rows(centers[labels[:n_orig]] * 0.3 +
                       rng.normal(size=(n_orig, DIM)))
        src = rng.integers(0, n_orig, n_dup)
        copies = _unit_rows(v[src] + rng.normal(scale=0.02, size=(n_dup, DIM)))
        labels[n_orig:] = labels[src]
        pairs = [(first_id + int(s), first_id + n_orig + j)
                 for j, s in enumerate(src)]
        return (_emb_table(np.arange(first_id, first_id + n),
                           np.vstack([v, copies]), labels), pairs)

    d, dpairs = docs(0, n_docs)
    _write(d, f"{out}/documents.parquet")
    e, epairs = vectors(0, n_emb)
    _write(e, f"{out}/embeddings.parquet")
    for name, pairs in (("doc_truth", dpairs), ("emb_truth", epairs)):
        a, b = zip(*pairs) if pairs else ((), ())
        _write(pa.table({"a": pa.array(a, type=pa.int64()),
                         "b": pa.array(b, type=pa.int64())}),
               f"{out}/{name}.parquet")
    ix, _ = vectors(20_000_000, n_index)
    _write(ix, f"{out}/index_emb.parquet")
    # queries near indexed vectors, as a retrieval batch would be
    near = np.vstack(ix.column("embedding").to_numpy(zero_copy_only=False))
    qv = _unit_rows(near[rng.integers(0, n_index, n_queries)] +
                    rng.normal(scale=0.05, size=(n_queries, DIM)))
    _write(_emb_table(np.arange(n_queries), qv, np.zeros(n_queries, int)),
           f"{out}/queries.parquet")
    ad, apairs = docs(10_000_000, n_append)
    _write(ad, f"{out}/append_docs.parquet")
    a, b = zip(*apairs) if apairs else ((), ())
    _write(pa.table({"a": pa.array(a, type=pa.int64()),
                     "b": pa.array(b, type=pa.int64())}),
           f"{out}/append_truth.parquet")
    ae, _ = vectors(10_000_000, n_append)
    _write(ae, f"{out}/append_emb.parquet")
