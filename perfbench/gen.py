"""Seeded input generators for the benchmark workloads.

Every input a workload reads is made here from ``--seed``: the same seed
gives byte-identical parquet / HTML files. Column names and types follow
the engine's fixture tables (events, documents, embeddings); each
workload's sizes are the defaults of its ``gen_*`` function.

The value distributions are assumptions, not measured from the sf0.1
fixtures (which the repository does not hold): prices are
exponential(50), document texts are uniform draws from a 30-word
vocabulary, and embeddings are i.i.d. Gaussian vectors scaled to unit
length, with no cluster structure.

Each generator also returns the counts the engine's outputs must match
(``expect``), computed here from the generated rows, so the benchmark can
check outputs without trusting the engine under test.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in micros
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _values(rng, n):
    return np.round(rng.exponential(50.0, n), 2)


def _props(rng, n):
    return np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")


def documents_table(rng, n=5_000, near_dups=250, exact_dups=8):
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n)]
    # planted near-duplicates (a copy plus one token) and exact copies,
    # always of an earlier document, so every dedup query has groups
    for i in rng.choice(np.arange(1, n), near_dups + exact_dups, replace=False)[:near_dups]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = [i for i in rng.choice(np.arange(1, n), exact_dups * 4, replace=False)
             if not texts[i].endswith(" dup")][:exact_dups]
    for i in exact:
        texts[i] = texts[int(rng.integers(0, i))]
    lang = np.array(["en", "es", "zh", "de", "fr"])[
        rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n=2_000, dim=64, labels=10):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, n).astype(np.int32)),
    })


# ---------------------------------------------------------------- workloads

def gen_corpus(out, rng, docs=1_000, vectors=2_000):
    _write(documents_table(rng, n=docs, near_dups=docs // 20, exact_dups=4),
           os.path.join(out, "documents.parquet"))
    _write(embeddings_table(rng, n=vectors), os.path.join(out, "embeddings.parquet"))
    return {}


def _html_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def gen_pipeline(out, rng, users=200, days=40, days_per_page=2, rescrape_every=4,
                 rescrape_frac=0.2):
    """Trade-summary pages: one row per (user, day) — the panel the
    reference's day-level dedup produces — `days_per_page` days to a page,
    plus, every `rescrape_every` days, a same-day re-scrape page repeating
    a sample of that day's rows verbatim."""
    n = users * days
    day = np.repeat(np.arange(days), users)
    user = np.tile(np.arange(users), days)
    ts = EPOCH_2024_US + day * DAY_US + rng.integers(0, DAY_US, n)
    ts_ns = ts.astype(np.int64) * 1000
    value = _values(rng, n)
    # a few planted price spikes above the alert threshold
    value[rng.choice(n, 5, replace=False)] = np.round(rng.uniform(400.01, 560.0, 5), 2)
    etype = EVENT_TYPES[rng.integers(0, 5, n)]
    props = _props(rng, n)
    header = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    pages = os.path.join(out, "pages")
    os.makedirs(pages, exist_ok=True)

    def row(i):
        cells = (str(i), str(ts_ns[i]), str(user[i]), etype[i], f"{value[i]:.2f}",
                 _html_escape(props[i]))
        return "<tr>" + "".join(f"<td>{c}</td>" for c in cells) + "</tr>"

    def page(path, idx):
        with open(path, "w") as f:
            f.write("<html><body><table><tr>"
                    + "".join(f"<th>{h}</th>" for h in header) + "</tr>\n")
            f.write("\n".join(row(i) for i in idx))
            f.write("\n</table></body></html>\n")

    n_rows = n
    for d in range(0, days, days_per_page):
        page(os.path.join(pages, f"trades_{d:03d}_a.html"),
             np.nonzero((day >= d) & (day < d + days_per_page))[0])
    for d in range(0, days, rescrape_every):
        idx = np.nonzero(day == d)[0]
        dup = np.sort(rng.choice(idx, int(len(idx) * rescrape_frac), replace=False))
        page(os.path.join(pages, f"trades_{d:03d}_b.html"), dup)
        n_rows += len(dup)
    expect = {"rows_landed": int(n_rows), "deduped_rows": int(n),
              "threshold_alerts": int(np.sum(value > 400.0))}
    return expect


def generate(workload, out, seed):
    """Write one workload's inputs under `out`; return the expected counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "corpus_index":
        expect = gen_corpus(out, rng)
    elif workload == "cold_pipeline":
        expect = gen_pipeline(out, rng)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return expect
