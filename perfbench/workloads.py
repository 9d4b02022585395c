"""The three workloads: what each generates from the seed, and how each
checks the answers the engine gave."""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import build
import checks
import gen
import metrics

def oracle_sql():
    with open(build.ORACLE) as f:
        return json.load(f)["oracle_sql"]


def passes(names, seed, n_passes, kind):
    """`n_passes` passes over `names`, each in its own seeded order."""
    return [{"kind": kind, "name": n, "pass": p} for p in range(n_passes)
            for n in gen.seeded_order(sorted(names), seed * 1000 + p)]


def write_ops(data_dir, ops):
    path = os.path.join(data_dir, "ops.jsonl")
    gen.write_oplog(path, [dict(op, i=i) for i, op in enumerate(ops)])
    return path


def verify_against_oracle(res, plan, out):
    """Hash-match each answer with DuckDB running the statement's oracle
    text over the same parquet; answers without oracle text must give the
    same digest as the set-up's warm-up pass and every other pass."""
    sql = oracle_sql()
    con = checks.connect(plan["data"], gen.TABLES)
    ref, seen, verdicts = {}, {}, {}
    for op in res["ops"]:
        if op["status"] != "ok":
            continue
        got = checks.digest_of_answer(con, os.path.join(out, f"op_{op['i']}"))
        name = op["name"]
        if name in sql:
            if name not in ref:
                try:
                    ref[name] = checks.canon(con.execute(sql[name]).fetchdf())
                except Exception as e:  # a broken reference fails the op
                    ref[name] = ("oracle error: " + str(e)[:200], -1)
            ok = got == ref[name]
            why = "" if ok else f"digest {got} != DuckDB {ref[name]}"
        else:
            if name not in seen:
                warm = os.path.join(out, f"warm_{name}")
                seen[name] = checks.digest_of_answer(con, warm) or got
            ok = seen[name] == got
            why = "" if ok else "digest differs from the warm-up pass"
        verdicts[op["i"]] = {"correct": ok, "why": why}
    return verdicts


class SqlText:
    """Oracle statements, verbatim through spark.sql, at sf0.01: the texts
    behind SqlSurface's SQL-text queries (q92-q114), which cover OracleSql's
    relational, window, grouping-set, CTAS and vector statements and
    BoardOracleSql's non-recursive board statements. A pass takes about 4 s
    on 4 cores; the full corpus of 132 statements takes about 55 s, longer
    than a run's window, so a run would see a different subset per seed."""
    NAME = "sql_text"
    SF = 0.01
    DEADLINE_S = 20.0
    PASS_S = 10.0
    STATEMENTS = [
        "q92_sql_pricing", "q93_sql_star_join", "q94_sql_window_rank",
        "q95_sql_top_customers", "q97_sql_knn", "q98_sql_topk_agg",
        "q100_ctas", "q103_sql_stack_tops", "q104_sql_reserves",
        "q105_sql_ring_key", "q106_sql_viewport", "q109_sql_rollup",
        "q110_sql_cube", "q111_sql_grouping_sets", "q112_sql_set_ops",
        "q113_sql_outer_join", "q114_ctas_bucketed"]

    @classmethod
    def generate(cls, data_dir, seed, n_passes):
        sizes = gen.warehouse(data_dir, cls.SF, seed)
        ops = passes(cls.STATEMENTS, seed, n_passes, "sql")
        return {"data": data_dir, "sizes": sizes,
                "op_log": write_ops(data_dir, ops),
                "config": {"warm_up": cls.STATEMENTS}}

    verify = staticmethod(verify_against_oracle)


class Curation:
    """Read-only LLM-pipeline q-functions over a recombined corpus."""
    NAME = "curation"
    N_DOCS = 6_000
    N_VECS = 2_400
    DUP_SHARE = 0.05
    DEADLINE_S = 30.0
    PASS_S = 10.0
    # one or two queries per executor kernel: tokenize, exact and MinHash
    # and SimHash dedup, the TopK and Misra-Gries UDAFs, brute-force and
    # all-pairs dot products, and the multimodal feature pipeline
    QUERIES = [
        "q13_text_tokens", "q14_exact_dedup", "q26_minhash_neardup",
        "q28_simhash_dups", "q84_topk_agg", "q128_heavy_hitters",
        "q15_knn_bruteforce", "q33_embed_topk_pairs", "q48_embed_neardup",
        "q35_multimodal_features",
    ]

    @classmethod
    def generate(cls, data_dir, seed, n_passes):
        base = data_dir + "_base"
        gen.warehouse(base, 0.01, seed, n_docs=5000, n_vecs=2000)
        sizes = gen.curation_corpus(data_dir, seed, cls.N_DOCS, cls.N_VECS,
                                    cls.DUP_SHARE, base)
        ops = passes(cls.QUERIES, seed, n_passes, "query")
        return {"data": data_dir, "sizes": sizes,
                "op_log": write_ops(data_dir, ops),
                "config": {"warm_up": cls.QUERIES}}

    verify = staticmethod(verify_against_oracle)


class Lifecycle:
    """Epoch sink, lexical index and vector index at sf0.1 under a seeded
    stream of writes, reads and compactions."""
    NAME = "lifecycle"
    DEADLINE_S = 30.0
    PASS_S = 15.0
    # each pass is the ten writes and reads in seeded order, then the three
    # compactions, so every pass compacts the same amount of new data
    MIX = ["sink.upsert", "sink.delete", "sink.point_read", "sink.scan",
           "lex.upsert", "lex.delete", "lex.search",
           "vec.upsert", "vec.delete", "vec.search"]
    COMPACTIONS = ["sink.compact", "lex.compact", "vec.compact"]
    CYCLE = MIX + COMPACTIONS
    WRITES = {"sink.upsert", "sink.delete", "lex.upsert", "lex.delete",
              "vec.upsert", "vec.delete"}
    READS = {"sink.point_read", "sink.scan", "lex.search", "vec.search"}
    SINK_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    @classmethod
    def generate(cls, data_dir, seed, n_passes):
        # sf0.1 events, documents and embeddings; sf0.01 for the rest,
        # which the lifecycle only warms
        sizes = gen.warehouse(data_dir, 0.01, seed, n_docs=5000, n_vecs=2000,
                              n_events=100_000)
        rng = np.random.default_rng([seed, 11])
        ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
        ev_ts = ev.column("ts").to_numpy()
        n_users = 1500
        live_ev = set(range(ev.num_rows))
        next_ev = ev.num_rows
        n_docs = sizes["documents"]
        live_docs, next_doc = set(range(n_docs)), n_docs
        n_vecs = sizes["embeddings"]
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        live_vecs = set(range(n_vecs))
        os.makedirs(os.path.join(data_dir, "ops"), exist_ok=True)
        ops = []

        def put(table):
            name = f"ops/op_{len(ops)}.parquet"
            gen._write(table, os.path.join(data_dir, name))
            return name

        def pick(pool, k, lo=0):
            arr = np.array(sorted(x for x in pool if x >= lo), dtype=np.int64)
            return rng.choice(arr, size=min(k, len(arr)), replace=False)

        def probes(n=5):
            return pa.table({
                "probe_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": [" ".join(list(rng.choice(gen.WORDS, 3)) +
                                  list(rng.choice(gen.RARE, 3))) for _ in range(n)]})

        for c in range(n_passes):
            mix = [cls.MIX[i] for i in rng.permutation(len(cls.MIX))]
            for kind in mix + cls.COMPACTIONS:
                op = {"kind": kind, "name": kind, "pass": c}
                if kind == "sink.upsert":
                    upd = pick(live_ev, 100)
                    ins = np.arange(next_ev, next_ev + 100, dtype=np.int64)
                    next_ev += 100
                    ts = np.concatenate([ev_ts[upd], rng.choice(ev_ts, 100)])
                    ev_ts = np.concatenate([ev_ts, ts[100:]])
                    t = gen.events_table(rng, 200, n_users)
                    t = t.set_column(0, "event_id", pa.array(np.concatenate([upd, ins])))
                    t = t.set_column(1, "ts", pa.array(ts, pa.timestamp("us")))
                    op["file"] = put(t)
                    live_ev |= set(ins.tolist())
                elif kind == "sink.delete":
                    ids = pick(live_ev, 100)
                    op["file"] = put(pa.table({"event_id": pa.array(ids)}))
                    live_ev -= set(ids.tolist())
                elif kind == "sink.point_read":
                    op["event_id"] = int(pick(live_ev, 1)[0])
                elif kind == "lex.upsert":
                    upd = pick(live_docs, 20)
                    ids = np.concatenate([upd, np.arange(next_doc, next_doc + 20)])
                    next_doc += 20
                    op["file"] = put(pa.table({
                        "doc_id": pa.array(ids.astype(np.int64)),
                        "text": [t + " " + " ".join(rng.choice(gen.RARE, 2))
                                 for t in gen.doc_texts(rng, len(ids), 0.0)]}))
                    live_docs |= set(ids.tolist())
                elif kind == "lex.delete":
                    ids = pick(live_docs, 20)
                    op["file"] = put(pa.table({"doc_id": pa.array(ids)}))
                    live_docs -= set(ids.tolist())
                elif kind == "lex.search":
                    op["file"] = put(probes())
                elif kind == "vec.upsert":
                    dead = pick(set(range(n_vecs)) - live_vecs, 10)
                    ids = np.sort(np.concatenate([dead, pick(live_vecs, 20 - len(dead), lo=5)]))
                    op["file"] = put(emb.take(pa.array(ids)))
                    live_vecs |= set(ids.tolist())
                elif kind == "vec.delete":
                    ids = pick(live_vecs, 20, lo=5)
                    op["file"] = put(pa.table({"vec_id": pa.array(ids)}))
                    live_vecs -= set(ids.tolist())
                ops.append(op)
        gen._write(probes(), os.path.join(data_dir, "lex_check_probes.parquet"))
        return {"data": data_dir, "sizes": sizes,
                "op_log": write_ops(data_dir, ops),
                "config": {"lex_check_probes": "lex_check_probes.parquet",
                           "warm_up": sorted(cls.READS)}}

    @classmethod
    def verify(cls, res, plan, out):
        """Replay the executed operations in DuckDB over `events` and check
        every sink read against the replayed table; check that no lexical
        or vector search returns an id that is not live at that point, and
        score vector searches against the exact top-10 of the live set."""
        data = plan["data"]
        ops = {o["i"]: o for o in map(json.loads, open(plan["op_log"]))}
        con = checks.connect(data, ["events"])
        cols = ", ".join(cls.SINK_COLS)
        con.execute(f"CREATE TABLE s AS SELECT {cols} FROM events")
        docs = set(range(plan["sizes"]["documents"]))
        vecs = set(range(plan["sizes"]["embeddings"]))
        emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
        ev = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)
                      ).astype(np.float64)
        ev /= np.linalg.norm(ev, axis=1, keepdims=True)
        verdicts, recalls, mutation_bytes = {}, [], 0
        for r in res["ops"]:
            op = ops[r["i"]]
            kind, ok, why = op["kind"], True, ""
            f = os.path.join(data, op["file"]) if "file" in op else None
            if kind in cls.WRITES and r["status"] == "ok":
                mutation_bytes += os.path.getsize(f)
            if r["status"] != "ok":
                continue
            if kind == "sink.upsert":
                con.execute(f"DELETE FROM s WHERE event_id IN (SELECT event_id FROM read_parquet('{f}'))")
                con.execute(f"INSERT INTO s SELECT {cols} FROM read_parquet('{f}')")
            elif kind == "sink.delete":
                con.execute(f"DELETE FROM s WHERE event_id IN (SELECT event_id FROM read_parquet('{f}'))")
            elif kind in ("sink.point_read", "sink.scan"):
                q = (f"SELECT {cols} FROM s WHERE event_id = {op['event_id']}"
                     if kind == "sink.point_read" else
                     "SELECT event_type, count(*) AS n, "
                     "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents "
                     "FROM s GROUP BY 1")
                want = checks.canon(con.execute(q).fetchdf())
                got = checks.digest_of_answer(con, os.path.join(out, f"op_{r['i']}"))
                ok, why = got == want, f"digest {got} != replay {want}"
            elif kind == "lex.upsert":
                docs |= set(pq.read_table(f).column("doc_id").to_pylist())
            elif kind == "lex.delete":
                docs -= set(pq.read_table(f).column("doc_id").to_pylist())
            elif kind == "vec.upsert":
                vecs |= set(pq.read_table(f).column("vec_id").to_pylist())
            elif kind == "vec.delete":
                vecs -= set(pq.read_table(f).column("vec_id").to_pylist())
            elif kind == "lex.search":
                got = checks.answer_df(con, os.path.join(out, f"op_{r['i']}"))
                bad = set(got["doc_id"].tolist()) - docs if got is not None else set()
                ok, why = not bad, f"returned ids not live: {sorted(bad)[:5]}"
            elif kind == "vec.search":
                got = checks.answer_df(con, os.path.join(out, f"op_{r['i']}"))
                got_ids = got["neighbor_id"].tolist() if got is not None else []
                bad = set(got_ids) - vecs
                ok, why = not bad, f"returned deleted ids: {sorted(bad)[:5]}"
                live = np.array(sorted(vecs))
                for p in range(5):
                    cand = live[live != p]
                    exact = set(cand[np.argsort(-(ev[cand] @ ev[p]), kind="stable")[:10]].tolist())
                    mine = set(got[got["probe_id"] == p]["neighbor_id"].tolist()) if got is not None else set()
                    recalls.append(len(exact & mine) / 10.0)
            verdicts[r["i"]] = {"correct": ok, "why": "" if ok else why}
        # final state, written once as plain parquet, for space_amp
        final = os.path.join(out, "final_live")
        os.makedirs(final, exist_ok=True)
        con.execute(f"COPY s TO '{final}/sink.parquet' (FORMAT parquet)")
        sink_final = checks.digest_of_answer(con, os.path.join(out, "sink_final"))
        want_final = checks.canon(con.execute(f"SELECT {cols} FROM s").fetchdf())
        plan["final_sink_ok"] = sink_final == want_final
        if not plan["final_sink_ok"]:
            print(f"sink final state {sink_final} != replay {want_final}")
        plan["recalls"] = recalls
        plan["mutation_bytes"] = mutation_bytes
        plan["live_bytes"] = os.path.getsize(f"{final}/sink.parquet") + \
            cls._live_bytes(data, docs, vecs, final, ops, res)
        return verdicts

    @staticmethod
    def _live_bytes(data, docs, vecs, final, ops, res):
        """Bytes of the final live documents and vectors as plain parquet."""
        base = pq.read_table(os.path.join(data, "documents.parquet"),
                             columns=["doc_id", "text"])
        texts = dict(zip(base.column("doc_id").to_pylist(),
                         base.column("text").to_pylist()))
        for r in res["ops"]:
            op = ops[r["i"]]
            if r["status"] == "ok" and op["kind"] == "lex.upsert":
                t = pq.read_table(os.path.join(data, op["file"]))
                texts.update(zip(t.column("doc_id").to_pylist(),
                                 t.column("text").to_pylist()))
        ids = sorted(docs)
        gen._write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": [texts[i] for i in ids]}),
                   f"{final}/documents.parquet")
        emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
        gen._write(emb.take(pa.array(sorted(vecs))), f"{final}/embeddings.parquet")
        return sum(os.path.getsize(f"{final}/{n}.parquet")
                   for n in ("documents", "embeddings"))

    @classmethod
    def extra(cls, res, ops, plan):
        """The lifecycle's own metrics, reported with the per-layer ones."""
        w = [o for o in ops if o["kind"] in cls.WRITES]
        r = [o for o in ops if o["kind"] in cls.READS]
        return {
            "write_kinds": cls.WRITES,
            "lifecycle.write_p50_s": metrics.percentile(w, 50),
            "lifecycle.read_p50_s": metrics.percentile(r, 50),
            "lifecycle.write_amp": res["fs"]["bytes_written"] / max(1, plan["mutation_bytes"]),
            "lifecycle.space_amp": res["store"]["bytes_on_disk"] / max(1, plan["live_bytes"]),
            "lifecycle.recall_at_10": (sum(plan["recalls"]) / len(plan["recalls"])
                                       if plan["recalls"] else 0.0),
        }

    @staticmethod
    def final_ok(res, plan, out):
        return bool(plan.get("final_sink_ok")) and \
            bool(res["checks"].get("lex_fresh_equal"))


WORKLOADS = {w.NAME: w for w in (SqlText, Curation, Lifecycle)}
NAMES = sorted(WORKLOADS)
