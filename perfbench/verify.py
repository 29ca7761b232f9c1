"""Checks the harness's raw observations against the truth and turns them
into metrics."""
import difflib
import glob
import os
import statistics

import gen

COUNTERS = ["submitted_dois", "duplicated_submissions", "processed_dois",
            "new_dois", "existing_dois", "updated_existing_dois",
            "ingested_dois", "metadata_pass", "metadata_failure",
            "valid_pattern_dois", "invalid_pattern_dois", "openalex_success",
            "openaire_success"]
TABLES = ["outputs", "authors", "author_of", "refers_to"]
SPANS = ["doi_ops.validate", "parser.parse", "store.upsert_outputs",
         "store.merge_outputs", "resolution.resolve", "store.upsert_authors",
         "store.merge_author_of", "linker.link", "report.report",
         "ingest.run"]
SPAN_COUNTERS = {"s": "s", "jobs": "count", "driver_s": "s",
                 "codegen_compiles": "count", "shuffle_bytes": "bytes",
                 "spill_bytes": "bytes"}
KERNELS = ["clean_html", "python_title", "name_similarity"]
# the curation suite, run as two workloads
SUITE_QUERIES = (
    "q_curate_pipeline q_curate_batch q_graph_components q_author_rank "
    "q_author_rank_weighted q_label_propagation q_k_core q_unimax_apply "
    "q_ann_ivf_build q_fuzzy_join q_tfidf_cosine_pairs").split()
# the iterative operators among them, and the rest
FIXPOINT_QUERIES = (
    "q_graph_components q_author_rank q_author_rank_weighted "
    "q_label_propagation q_k_core q_unimax_apply q_ann_ivf_build").split()
PIPELINE_QUERIES = [q for q in SUITE_QUERIES if q not in FIXPOINT_QUERIES]


def of(lines, kind):
    return [l for l in lines if l["kind"] == kind]


EDGE_TABLES = ["author_of", "refers_to"]


def first_difference(expected, actual, keys, prefix):
    for k in keys:
        if expected[k] != actual.get(k):
            return f"{prefix}{k}: expected {expected[k]}, got {actual.get(k)}"
    return None


# ---------------------------------------------------------------- ingest ---

def ingest(lines, truth):
    """Verify every operation: the 13 report counters, the node and edge
    deltas, the digest of each edge table, and an empty constraint check.
    A mismatch fails the operation and records the first difference, in
    that order."""
    setup = of(lines, "setup_counts")[0]
    prev = setup["counts"]
    seed_diff = (first_difference(truth["setup_counts"], prev, TABLES,
                                  "setup.") or
                 first_difference(truth["setup_edges"], setup["edges"],
                                  EDGE_TABLES, "setup.edges."))
    if setup["violations"]:
        seed_diff = seed_diff or f"setup.constraints: {setup['violations']}"
    ops, failures = [], []
    for exp, got in zip(truth["ops"], of(lines, "op")):
        assert exp["op"] == got["op"], (exp["op"], got["op"])
        delta = {t: got["counts"][t] - prev[t] for t in TABLES}
        prev = got["counts"]
        diff = (first_difference(exp["report"], got["report"], COUNTERS,
                                 "report.") or
                first_difference(exp["delta"], delta, TABLES, "delta.") or
                first_difference(exp["edges"], got["edges"], EDGE_TABLES,
                                 "edges.") or
                (f"constraints: {got['violations']}"
                 if got["violations"] else None))
        ops.append({"op": got["op"], "mode": got["mode"], "s": got["s"],
                    "ok": diff is None, "first_difference": diff,
                    "submitted": exp["submitted"],
                    "payload_bytes": exp["payload_bytes"],
                    "store_files": got["store_files"],
                    "store_bytes": got["store_bytes"]})
        if diff:
            failures.append(f"{got['op']}: {diff}")
    if seed_diff:
        failures.insert(0, f"setup: {seed_diff}")
    return {"setup_s": [l["s"] for l in of(lines, "setup")], "ops": ops,
            "attempted": len(ops) + 1,
            "failed": len(failures),
            "failures": failures}


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (value, percentile, n). Falls back to the maximum for short runs."""
    v, n = sorted(values), len(values)
    if n <= beyond:
        return v[-1], 100.0, n
    return v[n - beyond - 1], 100.0 * (n - beyond) / n, n


# ----------------------------------------------------------------- suite ---

def suite(lines, data, verify_dir):
    """Check the warm pass's results: oracle SQL in DuckDB where the query
    has one, structural invariants where it has none. Timed passes count
    as failed when a query raised."""
    import duckdb
    oracle = of(lines, "oracle")[0]["sql"]
    con = duckdb.connect()
    for t in ("documents", "lineitem", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    failures, checked = [], {}
    queries = [l for l in of(lines, "query") if l["pass"] == 1]
    for q in [l["query"] for l in queries]:
        files = glob.glob(os.path.join(verify_dir, q, "*.parquet"))
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").df() \
            if files else None
        if got is None:
            problem = "no result written"
        elif q in oracle:
            problem = same_rows(got, con.execute(oracle[q]).df())
        else:
            problem = NO_ORACLE[q](got, con)
        checked[q] = problem or "ok"
        if problem:
            failures.append(f"{q}: {problem}")
    passes = {}
    for l in of(lines, "query"):
        passes.setdefault(l["pass"], []).append(l)
        if l["error"]:
            failures.append(f"pass {l['pass']} {l['query']}: {l['error']}")
    return {"setup_s": [l["s"] for l in of(lines, "setup")],
            "passes": [l["s"] for l in of(lines, "pass")],
            "queries": of(lines, "query"), "checked": checked,
            "attempted": sum(len(v) for v in passes.values()) + len(checked),
            "failed": len(failures), "failures": failures}


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True).astype(str)


def same_rows(got, want):
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != oracle {len(b)}"
    if len(a) == 0:
        return "empty result"
    return None if a.equals(b) else "values differ from the oracle"


def check_ivf(got, con):
    n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    if int(got["cell_size"].sum()) != n:
        return f"cells hold {int(got['cell_size'].sum())} of {n} vectors"
    if got["center_id"].duplicated().any() or len(got) > 16:
        return "cell ids not unique or more than 16 cells"
    return None


def check_fuzzy(got, con):
    """Every pair must be in one block and score at the threshold; every
    in-block pair that scores there must be present."""
    docs = con.execute(
        "SELECT doc_id, lang, floor(n_chars / 100) AS band, "
        "substr(text, 1, 40) AS name FROM documents").fetchall()
    blocks = {}
    for d, lang, band, name in docs:
        blocks.setdefault((lang, band), []).append((d, name))
    want = set()
    for rows in blocks.values():
        for l_id, l_name in rows:
            for r_id, r_name in rows:
                r = r_name.replace("a", "")
                # quick_ratio bounds both difflib ratios of name_similarity
                # from above (reversing words keeps the character multiset)
                m = difflib.SequenceMatcher(None, l_name.strip().lower(),
                                            r.strip().lower())
                if m.quick_ratio() >= 0.85 and \
                        gen.name_similarity(l_name, r) >= 0.85:
                    want.add((l_id, r_id))
    have = set(zip(got["l_id"].astype(int), got["r_id"].astype(int)))
    if have != want:
        return (f"{len(have - want)} unexpected and {len(want - have)} "
                f"missing pairs")
    return None if want else "empty result"


NO_ORACLE = {"q_ann_ivf_build": check_ivf, "q_fuzzy_join": check_fuzzy}


# --------------------------------------------------------------- metrics ---

def end_to_end(workload, r):
    setup = statistics.median(r["setup_s"])
    if workload.endswith("_suite"):
        # a pass as the sum of each query's best time over the timed passes
        # (best-of-passes, as the repository's Bench reports queries)
        best = {}
        for q in r["queries"]:
            if not q["error"]:
                best[q["query"]] = min(best.get(q["query"], q["s"]), q["s"])
        work = sum(best.values())
    elif workload == "ingest_batches":
        work = statistics.median(o["s"] for o in r["ops"])
    else:   # one backfill: insert, then the re-runs
        work = sum(o["s"] for o in r["ops"])
    return {"setup_s": {"value": setup, "unit": "s"},
            "work_s": {"value": work, "unit": "s"}}


def per_layer(workload, r, lines):
    """The traced run's metrics: the suite set (the per_layer list of
    BENCHMARK.json) for suite workloads, the ingest set otherwise. Every
    metric of a set is measured on every workload that prints it."""
    if workload.endswith("_suite"):
        return suite_layers(r, lines)
    return ingest_layers(workload, r, lines)


def suite_layers(r, lines):
    """Per timed pass (mean over the passes), over the workload's queries;
    per-query figures go to `query_layers`."""
    spans = [s for s in of(lines, "span") if s["name"].startswith("suite.")]
    passes = len(r["passes"])
    m = {"suite.pass_s": (statistics.median(r["passes"]), "s"),
         # traced wall minus untraced wall of the same pass
         "trace.overhead_s": (statistics.median(r["passes"]) -
                              of(lines, "untraced_pass")[0]["s"], "s")}
    for c, unit in (("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("sql_executions", "count"),
                    ("driver_s", "s"), ("codegen_compiles", "count"),
                    ("shuffle_bytes", "bytes")):
        m[f"suite.{c}"] = (sum(s[c] for s in spans) / passes, unit)
    m["suite.slowest_query_s"] = (max(
        q["s"] for q in query_layers(r, lines).values()), "s")
    m["suite.pins_leaked"] = (sum(q["pins_leaked"] for q in r["queries"]),
                              "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def query_layers(r, lines):
    """suite.<query>: seconds and jobs per timed pass (mean)."""
    passes = len(r["passes"])
    out = {}
    for s in of(lines, "span"):
        if s["name"].startswith("suite."):
            q = out.setdefault(s["name"], {"s": 0.0, "jobs": 0.0})
            q["s"] += s["s"] / passes
            q["jobs"] += s["jobs"] / passes
    return out


def ingest_layers(workload, r, lines):
    spans = of(lines, "span")
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}
    for name in SPANS:
        ss = [s for s in spans if s["name"] == name]
        for c, unit in SPAN_COUNTERS.items():
            put(f"{name}.{c}", sum(s[c] for s in ss), unit)
    runs = {s["id"]: s for s in spans if s["name"] == "ingest.run"}
    put("ingest.run.children_s",
        sum(s["s"] for s in spans if s["parent"] in runs), "s")
    # traced wall minus untraced wall of the same operations
    put("trace.overhead_s", sum(t["whole_traced_s"] - t["whole_untraced_s"]
                                for t in of(lines, "trace_op")), "s")
    lc = of(lines, "layer_counts")
    mentions = sum(l["author_mentions"] for l in lc)
    put("parser.articles", sum(l["articles"] for l in lc), "count")
    put("parser.author_mentions", mentions, "count")
    put("resolution.resolved_share",
        sum(l["matched"] for l in lc) / mentions if mentions else 0.0,
        "ratio")
    put("resolution.minted", sum(l["minted"] for l in lc), "count")
    put("linker.links", sum(l["links"] for l in lc), "count")
    ops = r.get("ops", [])
    put("store.files_total", ops[-1]["store_files"] if ops else 0, "count")
    put("store.bytes_total", ops[-1]["store_bytes"] if ops else 0, "bytes")
    payload = sum(o["payload_bytes"] for o in ops)
    put("store.bytes_per_payload_byte",
        ops[-1]["store_bytes"] / payload if payload else 0.0, "ratio")
    for k in KERNELS:
        put(f"functions.{k}_s", sum(s["s"] for s in spans
                                    if s["name"] == f"functions.{k}"), "s")
    walls = [o["s"] for o in ops] if workload == "ingest_batches" else []
    t, pct, n = tail(walls) if walls else (0.0, 0.0, 0)
    put("batches.p50_s", statistics.median(walls) if walls else 0.0, "s")
    # submitted DOIs of verified batches over the total batch wall
    put("batches.goodput_dois_per_s",
        sum(o["submitted"] for o in ops if o["ok"]) / sum(walls)
        if walls else 0.0, "1/s")
    put("batches.tail_s", t, "s")
    put("batches.tail_pct", pct, "%")
    put("batches.n", n, "count")
    by_op = {o["op"]: o for o in ops}
    for ph in ("insert", "update", "reingest"):
        put(f"backfill.{ph}_s", by_op[ph]["s"] if ph in by_op else 0.0, "s")
    # 0 when the insert fails verification
    ins = by_op.get("insert")
    put("backfill.dois_per_s", ins["submitted"] / ins["s"]
        if ins and ins["ok"] else 0.0, "1/s")
    return m

