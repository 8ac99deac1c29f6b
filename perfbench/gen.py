"""Seeded input generator for the benchmark workloads.

Everything the program reads is written here, from the seed alone: the
star-schema source tables, the `events` stream, the incremental source
snapshot and its per-cycle batches, the curation corpus, and the table
folders (`config.yaml` + `.sql`) the batch transforms run. The same seed
gives byte-identical inputs.

Journals built from these tables are totally ordered: every version of a
key carries a unique `seqno`, so the merge's comparator
(`__transform_dt` DESC, `__load_dt` DESC, `__seqno` ASC) never ties and
the winner of each key does not depend on partition order.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "s")
EPOCH_EVENTS = np.datetime64("2024-01-01T00:00:00", "s")
EPOCH_UPDATES = np.datetime64("2025-01-01T00:00:00", "s")

FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ORDER_STATES = np.array(["F", "O", "P"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = np.array(("a agg batch big column customer data fast filter group hash join key "
                  "line merge order part query row scan slow small sort spark stream table "
                  "the value vector window").split())
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])


def _ts(base, seconds):
    return pa.array((base + seconds.astype("timedelta64[s]")).astype("datetime64[us]"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _zipf_keys(rng, n_keys, size, a=0.8):
    """Keys 1..n_keys drawn with probability ∝ rank^-a (a hot head)."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    return rng.choice(np.arange(1, n_keys + 1), size=size, p=w / w.sum())


def star_tables(rng, sf, out):
    """The TPC-H-ish star schema plus `events`; returns the expected
    master row count of each batch transform."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_users = int(6_000_000 * sf), int(1_000_000 * sf), max(15, int(15_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({"c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                     "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}),
           f"{out}/customer.parquet")
    _write(pa.table({"s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
           f"{out}/supplier.parquet")
    _write(pa.table({"p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
                     "p_name": [f"part {i}" for i in range(1, n_part + 1)],
                     "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
                     "p_type": [f"TYPE{t}" for t in rng.integers(0, 150, n_part)],
                     "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                     "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)}),
           f"{out}/part.parquet")
    o_custkey = rng.integers(1, n_cust + 1, n_ord)
    _write(pa.table({"o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
                     "o_custkey": o_custkey,
                     "o_orderstatus": ORDER_STATES[rng.integers(0, 3, n_ord)],
                     "o_totalprice": np.round(rng.uniform(800, 500_000, n_ord), 2),
                     "o_orderdate": _ts(EPOCH_1992, rng.integers(0, 2400 * 86400, n_ord)),
                     "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}),
           f"{out}/orders.parquet")
    # (l_orderkey, l_linenumber) repeats: the fact journal has several
    # versions of many keys, told apart only by the unique l_seqno
    l_orderkey = rng.integers(1, n_ord + 1, n_li)
    l_linenumber = rng.integers(1, 8, n_li).astype(np.int32)
    flag, status = rng.integers(0, 3, n_li), rng.integers(0, 2, n_li)
    _write(pa.table({"l_orderkey": l_orderkey,
                     "l_partkey": rng.integers(1, n_part + 1, n_li),
                     "l_suppkey": rng.integers(1, n_supp + 1, n_li),
                     "l_linenumber": l_linenumber,
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": FLAGS[flag],
                     "l_linestatus": STATUSES[status],
                     "l_shipdate": _ts(EPOCH_1992, rng.integers(0, 2500 * 86400, n_li)),
                     "l_seqno": rng.permutation(n_li).astype(np.int64)}),
           f"{out}/lineitem.parquet")
    # events: increasing timestamps with same-second ties, a hot user head
    user_id = _zipf_keys(rng, n_users, n_ev)
    ts = np.cumsum(rng.integers(0, 3, n_ev))
    _write(pa.table({"event_id": np.arange(n_ev, dtype=np.int64),
                     "ts": _ts(EPOCH_EVENTS, ts),
                     "user_id": user_id.astype(np.int64),
                     "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
                     "value": np.round(rng.uniform(0, 200, n_ev), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                     "e_seqno": rng.permutation(n_ev).astype(np.int64)}),
           f"{out}/events.parquet")
    has_items = np.zeros(n_ord + 1, bool)
    has_items[l_orderkey] = True
    return {
        "pricing_summary": len(set(zip(flag.tolist(), status.tolist()))),
        "customer_revenue": int(len(np.unique(o_custkey[has_items[1:]]))),
        "order_state": n_ord,
        "lineitem_fact": int(len(np.unique(l_orderkey * 8 + l_linenumber))),
        "user_state": int(len(np.unique(user_id))),
    }


TECH = "'A' AS __record_state"
BATCH_TABLES = {
    # folder: (primary key, dependencies, select sql)
    "pricing_summary": (["l_returnflag", "l_linestatus"], ["lineitem"], f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
  COUNT(*) AS count_order,
  TIMESTAMP '{{report_date}} 00:00:00' AS __transform_dt,
  TIMESTAMP '{{report_date}} 00:00:00' AS __load_dt,
  CAST(0 AS BIGINT) AS __seqno,
  {TECH}
FROM lineitem
GROUP BY l_returnflag, l_linestatus"""),
    "customer_revenue": (["c_custkey"], ["customer", "orders", "lineitem", "nation"], f"""
SELECT c.c_custkey, n.n_name, c.c_mktsegment,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items,
  TIMESTAMP '{{report_date}} 00:00:00' AS __transform_dt,
  TIMESTAMP '{{report_date}} 00:00:00' AS __load_dt,
  CAST(0 AS BIGINT) AS __seqno,
  {TECH}
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY c.c_custkey, n.n_name, c.c_mktsegment"""),
    "order_state": (["o_orderkey"], ["orders"], f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
  o_orderdate AS __transform_dt,
  TIMESTAMP '{{report_date}} 00:00:00' AS __load_dt,
  o_orderkey AS __seqno,
  {TECH}
FROM orders"""),
    "lineitem_fact": (["l_orderkey", "l_linenumber"], ["lineitem"], f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
  l_extendedprice, l_discount, l_returnflag, l_linestatus, l_shipdate,
  TIMESTAMP '{{report_date}} 00:00:00' AS __transform_dt,
  TIMESTAMP '{{report_date}} 00:00:00' AS __load_dt,
  l_seqno AS __seqno,
  {TECH}
FROM lineitem"""),
    "user_state": (["user_id"], ["events"], f"""
SELECT user_id, event_type, value, ts,
  ts AS __transform_dt,
  ts AS __load_dt,
  e_seqno AS __seqno,
  {TECH}
FROM events"""),
}
SOURCE = ("src", "erp", "public")  # system name, system tag, schema of every extract


def write_config(folder, table, deps, steps):
    """A table folder's `config.yaml`: lake dependencies, one select
    step per read mode (`steps`: mode -> (sql file, report_date
    parameter or not)) and the `dwh.<table>` target."""
    lines = ["- dependencies:"]
    for d in deps:
        lines += ["  - source: datalake", "    format: parquet", f"    alias: {d}",
                  f"    source_system_name: {SOURCE[0]}", f"    source_system_tag: {SOURCE[1]}",
                  f"    schema: {SOURCE[2]}", f"    table_name: {d}"]
    lines += ["  transform:"]
    for mode, (sql, dated) in steps.items():
        lines += [f"    {mode}:", "    - type: select", f"      sql: {sql}"]
        if dated:
            lines += ["      parameters:", "      - name: report_date", "        type: report_date"]
    lines += ["  target:", "    target_schema: dwh", f"    target_table_name: {table}"]
    with open(f"{folder}/config.yaml", "w") as f:
        f.write("\n".join(lines) + "\n")


def batch_folders(out):
    """One folder per batch table: `config.yaml` + `select.sql`."""
    for table, (_, deps, sql) in BATCH_TABLES.items():
        folder = f"{out}/sql/dwh/{table}"
        os.makedirs(folder, exist_ok=True)
        with open(f"{folder}/select.sql", "w") as f:
            f.write(sql.strip() + "\n")
        write_config(folder, table, deps, {"full": ("select.sql", True)})


UPDATE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "updated_at"]
INCREMENTAL_SQL = f"""
SELECT {", ".join(UPDATE_COLS)},
  updated_at AS __transform_dt,
  updated_at AS __load_dt,
  seqno AS __seqno,
  {TECH}
FROM order_updates"""


def report_date(batch):
    return np.datetime64("2025-01-01", "D") + np.timedelta64(batch, "D")


def incremental(rng, n_boot, batch_rows, n_batches, out):
    """The order-update source: a bootstrap snapshot plus `n_batches`
    batches, each appended to the source before one delta cycle.

    Batch k is the delta of report date 2025-01-01 + k days (its
    `load_date`); the delta transform selects it by `REPORT_DATE`.
    Its `updated_at` values start at the watermark left by
    everything before it, and about 5% of its rows repeat that exact
    value (late commits at the mark, which the delta extract must land).
    `seqno` falls with arrival order, so among `updated_at` ties the
    later version wins under the merge comparator in full and delta
    mode alike. Keys are Zipf-skewed, so a batch repeats its hot keys.
    """
    os.makedirs(f"{out}/updates", exist_ok=True)
    seq = [10 ** 12]

    def seqnos(n):
        steps = np.cumsum(rng.integers(1, 4, n))
        s = seq[0] - steps
        seq[0] = int(s[-1])
        return s.astype(np.int64)

    def table(keys, secs, batch):
        n = len(keys)
        return pa.table({"o_orderkey": keys.astype(np.int64),
                         "o_custkey": rng.integers(1, 1 + max(1, n_boot // 10), n).astype(np.int64),
                         "o_orderstatus": ORDER_STATES[rng.integers(0, 3, n)],
                         "o_totalprice": np.round(rng.uniform(800, 500_000, n), 2),
                         "updated_at": _ts(EPOCH_UPDATES, secs),
                         "seqno": seqnos(n),
                         "load_date": pa.array(np.full(n, report_date(batch)), pa.date32())})

    boot_secs = np.sort(rng.integers(0, 86_400, n_boot))
    _write(table(np.arange(1, n_boot + 1), boot_secs, 0), f"{out}/updates/batch_00000.parquet")
    mark, at_mark, cycles = int(boot_secs.max()), int((boot_secs == boot_secs.max()).sum()), []
    for k in range(1, n_batches + 1):
        keys = _zipf_keys(rng, n_boot + n_boot // 5, batch_rows)
        secs = mark + rng.integers(0, 61, batch_rows)
        secs[rng.random(batch_rows) < 0.05] = mark
        _write(table(keys, secs, k), f"{out}/updates/batch_{k:05d}.parquet")
        cycles.append({"batch": k, "report_date": str(report_date(k)), "mark": str(EPOCH_UPDATES + np.timedelta64(mark, "s")).replace("T", " "),
                       "rows": batch_rows, "source_rows_ge_mark": batch_rows + at_mark})
        new_mark = int(secs.max())
        at_mark = int((secs == new_mark).sum()) + (at_mark if new_mark == mark else 0)
        mark = new_mark
    folder = f"{out}/sql/dwh/order_state"
    os.makedirs(folder, exist_ok=True)
    with open(f"{folder}/full.sql", "w") as f:
        f.write(INCREMENTAL_SQL.strip() + "\n")
    with open(f"{folder}/delta.sql", "w") as f:
        f.write(INCREMENTAL_SQL.strip() + "\nWHERE load_date = DATE '{report_date}'\n")
    write_config(folder, "order_state", ["order_updates"],
                 {"full": ("full.sql", False), "delta": ("delta.sql", True)})
    return cycles


def documents(rng, n_docs, out):
    """The curation corpus, in the shape of the repository's fixture
    corpus as `corpus_stats.py` measures it (README.md lists the
    figures): word-salad documents of 10-99 tokens drawn uniformly from
    the same 30-word vocabulary, five languages (40% `en`), twenty
    sources, and 5% near-duplicates (an earlier document's text plus
    the marker word `dup`)."""
    texts = []
    lens = rng.integers(10, 100, n_docs)
    dup = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), lens[i])]))
    _write(pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                     "text": texts,
                     "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
                     "source": [f"src{i % 20}" for i in range(n_docs)],
                     "n_chars": np.array([len(t) for t in texts], np.int64)}),
           f"{out}/documents.parquet")


def generate(workload, seed, out, sizes):
    """Write the inputs of `workload` under `out`; returns the manifest
    the harness and the output checks read."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, "sizes": sizes,
                "source": dict(zip(["system", "tag", "schema"], SOURCE))}
    if workload == "dwh_batch":
        manifest["expected_rows"] = star_tables(rng, sizes["sf"], out)
        manifest["extract_tables"] = ["region", "nation", "customer", "supplier", "part",
                                      "orders", "lineitem", "events"]
        manifest["rows_per_batch"] = sum(pq.ParquetFile(f"{out}/{t}.parquet").metadata.num_rows
                                         for t in manifest["extract_tables"])
        manifest["tables"] = {t: {"pk": pk, "deps": deps}
                              for t, (pk, deps, _) in BATCH_TABLES.items()}
        batch_folders(out)
    elif workload == "dwh_incremental":
        manifest["cycles"] = incremental(rng, sizes["bootstrap_rows"], sizes["batch_rows"],
                                         sizes["batches"], out)
        manifest["columns"] = UPDATE_COLS
    elif workload == "curation_chain":
        documents(rng, sizes["docs"], out)
        manifest["queries"] = sizes["queries"]
        manifest["warm_query"] = sizes["warm_query"]
        manifest["order"] = [rng.permutation(len(sizes["queries"])).tolist()
                             for _ in range(sizes["max_passes"])]
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
