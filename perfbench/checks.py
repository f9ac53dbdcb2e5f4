"""Output checks and metric extraction for each workload, from the JVM's run report.

Checks run after the timed phase and are not timed. Each returns the number of wrong
outputs (counted into the result's `failed`) and notes describing them."""
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
import metrics as m

WORKLOADS = ("olap_star", "ingest_serve")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def check(workload, input_dir, report):
    fn = _check_olap if workload == "olap_star" else _check_ingest
    return fn(input_dir, report["check"])


class _Tally:
    def __init__(self):
        self.wrong, self.notes = 0, []

    def expect(self, ok, what):
        if not ok:
            self.wrong += 1
            self.notes.append(what)


# ---- olap_star: every query against DuckDB running SparkEntry.oracleSql ---------------

def _norm(v):
    """Engine-neutral cell rendering, used to sort rows: doubles to 6 significant
    digits, so a row's place does not depend on its last bits."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _decimals(x):
    r = repr(x)
    return len(r.split(".")[1]) if "." in r and "e" not in r else 0


def _same(a, b):
    """Cell equality across engines. Doubles may differ in their last bits (sums add
    in a different order); a value the query rounded may then land one unit apart in
    its last decimal (a rounding tie, e.g. x.xx4999.. against x.xx5), which is
    accepted only when that unit is below a millionth of the value."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        d, mag = abs(a - b), max(abs(a), abs(b))
        unit = 10.0 ** -max(_decimals(a), _decimals(b))
        return d <= 1e-9 * mag or (d <= unit * (1 + 1e-6) and unit <= 1e-6 * mag)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return _norm(a) == _norm(b)


def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, sorted(zip(*data), key=lambda row: tuple(_norm(v) for v in row))


def _same_table(got, want):
    (gc, gr), (wc, wr) = got, want
    return gc == wc and len(gr) == len(wr) and all(
        all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(gr, wr))


def _check_olap(input_dir, data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    t = _Tally()
    for q, sql in sorted(data["oracle"].items()):
        try:
            got = _rows(pq.read_table(os.path.join(data["results"], q)))
            want = _rows(con.execute(sql).fetch_arrow_table())
            t.expect(_same_table(got, want), f"{q}: spark's {len(got[1])} rows differ from "
                     f"duckdb's {len(want[1])}")
        except Exception as e:  # a missing result or a failing oracle is a wrong answer
            t.expect(False, f"{q}: {type(e).__name__}: {e}")
    return t.wrong, t.notes


# ---- ingest_serve: admissions against the plant, reads against acknowledged writes ------

def _check_ingest(input_dir, data):
    with open(os.path.join(input_dir, "truth.json")) as f:
        truth = json.load(f)
    t = _Tally()
    model, table, vecs = set(), {}, {}  # acknowledged ids; key -> (k, ts, v); id -> vector
    states = []
    for b, admitted in enumerate(data["admitted"]):
        docs = pq.read_table(os.path.join(input_dir, f"docs_{b:04d}.parquet")).to_pydict()
        if admitted is None:  # a failed batch acknowledges nothing; its reads are skipped
            states.append(None)
            continue
        copies = {p[0] for p in truth["batches"][b]["planted"]}
        # the quality filter keeps documents of at least MIN_TOKENS tokens (their quality
        # score is then at least 0.5: every word but the stopwords "a" and "the" has 3+
        # letters); every original has that many, so every copy duplicates a kept one
        want = {d for d, text in zip(docs["doc_id"], docs["text"])
                if len(text.split()) >= gen.MIN_TOKENS} - copies
        t.expect(set(admitted) == want and len(admitted) == len(want),
                 f"batch {b}: admitted {len(admitted)} docs, expected {len(want)}")
        model |= set(admitted)
        vecs.update((d, e) for d, e in zip(docs["doc_id"], docs["embedding"]) if d in model)
        upd = pq.read_table(os.path.join(input_dir, f"upd_{b:04d}.parquet")).to_pydict()
        for k, ts, v in zip(upd["k"], upd["ts"], upd["v"]):
            if k not in table or ts > table[k][1]:
                table[k] = (k, ts, v)
        states.append((set(model), dict(table)))

    queries = pq.read_table(os.path.join(input_dir, "queries.parquet")).to_pydict()
    for r in data["reads"]:
        state = states[r["after"]]
        if state is None:
            continue
        ids, keys = state
        where = f"after batch {r['after']}"
        if r["kind"] == "range":
            want = sorted(i for i in ids if r["lo"] <= i <= r["hi"])
            t.expect(r["ids"] == want, f"range read [{r['lo']}, {r['hi']}] {where}")
        elif r["kind"] == "point":
            want = [r["id"]] if r["id"] in ids else []
            t.expect(r["ids"] == want, f"point read {r['id']} {where}")
        elif r["kind"] == "key":
            want = [list(keys[r["k"]])] if r["k"] in keys else []
            t.expect(r["rows"] == want, f"key read {r['k']} {where}")
        else:
            t.expect(r["neighbours"] is not None and
                     _top5_ok(r["neighbours"], queries["embedding"][r["query"]], ids, vecs),
                     f"top-5 neighbours of query {r['query']} {where}")

    t.expect(data["corpus_ids"] == sorted(model), "corpus table != acknowledged admissions")
    t.expect(sorted(map(tuple, data["table_rows"])) == sorted(table.values()),
             "upsert table != last acknowledged value per key")
    return t.wrong, t.notes


def _top5_ok(got, query, ids, vecs):
    """Exact cosine top-5 over the acknowledged corpus. The engine rounds cosines to 4
    places, so each reported score must match the exact one to that precision, and a
    different id at a rank is accepted only if its own exact score ties the rank's."""
    order = sorted(ids)
    pos = {d: i for i, d in enumerate(order)}
    corpus = np.array([vecs[i] for i in order], dtype=np.float64)
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    q = np.array(query, dtype=np.float64)
    sims = corpus @ (q / np.linalg.norm(q))
    top = np.argsort(-sims, kind="stable")[:5]
    return len(got) == len(top) and all(
        abs(c - sims[i]) < 6e-5 and nid in pos and abs(sims[pos[nid]] - sims[i]) < 1.1e-4
        for (nid, c), i in zip(got, top))


# ---- metrics ---------------------------------------------------------------------------

def _passes(ops, field):
    """Sum of `field` over each pass's operations, by pass number."""
    out = {}
    for o in ops:
        out[o["pass"]] = out.get(o["pass"], 0) + o[field]
    return out


def end_to_end(workload, input_dir, report):
    """The end-to-end metrics (BENCHMARK.json) and the wall-clock figures printed
    beside them. Time is the JVM's CPU time, all threads: on a shared VM the wall
    clock also counts the cycles the hypervisor gives to other guests."""
    ops = [o for o in report["ops"] if o["ok"]]
    cpu, wall = _passes(ops, "cpu_ms"), _passes(ops, "ms")
    if workload == "olap_star":
        used_input = gen.input_bytes(input_dir)
        work = [o for o in ops if not o["cold"]]
        units = len(work)
    else:
        with open(os.path.join(input_dir, "truth.json")) as f:
            batches = json.load(f)["batches"]
        work = [o for o in ops if o["kind"] == "batch"]
        units = sum(batches[o["pass"]]["n_docs"] + batches[o["pass"]]["n_upserts"]
                    for o in work)
        used_input = sum(os.path.getsize(os.path.join(input_dir, f"{k}_{o['pass']:04d}.parquet"))
                         for o in work for k in ("docs", "upd"))
    e2e = {
        "setup_s": m.median(report["setup_cpu_s"]),
        "cold_cpu_ms": cpu[0],
        "warm_cpu_ms": m.mean([t for p, t in cpu.items() if p > 0]),
        "throughput_per_cpu_s": units / (sum(o["cpu_ms"] for o in work) / 1000),
        "bytes_stored_per_byte": report["stored_bytes"] / used_input,
    }
    wall_clock = {
        "setup_wall_s": m.median(report["setup_wall_s"]),
        "cold_pass_ms": wall[0],
        "warm_pass_ms": m.mean([t for p, t in wall.items() if p > 0]),
        "throughput_per_s": units / (sum(o["ms"] for o in work) / 1000),
        "timed_ms": sum(wall.values()),
    }
    return e2e, wall_clock


def per_layer(workload, input_dir, report, e2e, wall_clock, names):
    """Every per-layer metric in `names`; a layer the workload does not exercise
    reads 0."""
    ops = report["ops"]
    n_ops = max(1, len(ops))
    spans = [tuple(s) for s in report["spans"]]
    timed = [s for s in spans if s[5] >= 0]
    reps = max(1, len(report["setup_wall_s"]))

    def mean_ms(name):
        d = [(s[3] - s[2]) / 1e6 for s in timed if s[1] == name]
        return sum(d) / len(d) if d else 0.0

    def setup_s(name):
        return sum(s[3] - s[2] for s in spans if s[5] < 0 and s[1] == name) / 1e9 / reps

    eng = report["engine"]
    out = dict.fromkeys(names, 0.0)
    out.update({
        "session.build_s": setup_s("session.build"),
        "sources.star_build_s": setup_s("sources.star_build"),
        "sources.scan_bytes": eng["input_bytes"] / n_ops,
        "sources.scan_rows": eng["input_rows"] / n_ops,
        "sources.bytes_written": eng["output_bytes"] / n_ops,
        "sources.upsert_ms": mean_ms("sources.upsert"),
        "sources.append_ms": mean_ms("sources.append"),
        "sources.compact_ms": mean_ms("sources.compact"),
        "pipeline.clean_ms": mean_ms("pipeline.clean"),
        "streaming.admit_ms": mean_ms("streaming.admit"),
        "functions.topk_ms": mean_ms("functions.topk"),
        "engine.failed_tasks": eng["failed_tasks"],
        "engine.jit_ms": sum(o["jit_ms"] for o in ops) / n_ops,
        "engine.cpu_util": eng["task_cpu_ms"] / (report["wall_ms"] * report["cpus"]),
        "engine.peak_rss_mb": report["peak_rss_mb"],
        "host.calib_before_ms": report["calib_before_ms"],
        "host.calib_after_ms": report["calib_after_ms"],
        "host.mem_calib_before_ms": report["mem_calib_before_ms"],
        "host.mem_calib_after_ms": report["mem_calib_after_ms"],
    })
    for ph in ("build", "optimize", "physical"):
        out[f"plans.{ph}_ms"] = mean_ms(f"plans.{ph}")
    for fam in ("tpch", "ssb"):
        out[f"operators.exec_ms.{fam}"] = mean_ms(f"operators.exec.{fam}")
    for k in ("jobs", "stages", "tasks", "task_cpu_ms", "gc_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        out[f"engine.{k}"] = eng[k] / n_ops
    out.update(report["counters"])
    if workload == "ingest_serve":
        with open(os.path.join(input_dir, "truth.json")) as f:
            batches = json.load(f)["batches"]
        done = [(a, batches[b]["n_docs"]) for b, a in enumerate(report["check"]["admitted"])
                if a is not None]
        out["streaming.admit_ratio"] = sum(len(a) for a, _ in done) / sum(n for _, n in done)
        if out["pipeline.candidate_pairs"]:
            out["pipeline.pair_yield"] = (out["pipeline.verified_pairs"]
                                          / out["pipeline.candidate_pairs"])
    for layer, (t, c) in m.self_times(timed).items():
        out[f"self_ms.{layer}"] = t / 1e6 / n_ops
        out[f"calls.{layer}"] = c / n_ops
    for k, v in {**e2e, **wall_clock}.items():
        out[f"traced.{k}"] = v
    return {k: float(out[k]) for k in names}
