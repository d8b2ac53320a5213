"""Tests of the benchmark's own parts: the generators are deterministic,
and every output check rejects a planted wrong answer.

    python3 -m unittest discover -s perfbench/tests -v    (from the repo root)
"""

import hashlib
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

# sha256 of the generated inputs; a change to the generator that moves a
# single byte must update these on purpose.
SACCT_SEED7_SHA = "9fe07d3d018b31b56effbfeffb8ea9ce34cfbbb4187dd86ba1f842d56e8d100a"
CORPUS_SEED7_SHA = "3f9c1f5d38dccea7533e2556883db0f88207121aff661ce65f3f13d291c6186c"


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def corpus_sha(files):
    h = hashlib.sha256()
    for name in sorted(files):
        h.update(name.encode() + b"\0" + files[name].encode())
    return h.hexdigest()


def fmt(x):
    """graft's Cli.render of one value."""
    if x is None:
        return ""
    if isinstance(x, float):
        return f"{x:.1f}" if x == int(x) and abs(x) < 1e15 else repr(x)
    return str(x)


def tsv(header, rows):
    return "\n".join(["\t".join(header)] + ["\t".join(fmt(r.get(h)) for h in header) for r in rows])


def rd(x, d):
    """graft's Round.rd: floor(x * 10^d + 0.5) / 10^d."""
    return None if x is None else math.floor(x * 10 ** d + 0.5) / 10 ** d


class GeneratorTest(unittest.TestCase):
    def test_sacct_dump_is_pinned(self):
        a, _ = gen.gen_sacct(7, 400)
        b, _ = gen.gen_sacct(7, 400)
        self.assertEqual(a, b)
        self.assertEqual(sha(a), SACCT_SEED7_SHA)
        self.assertNotEqual(sha(gen.gen_sacct(8, 400)[0]), SACCT_SEED7_SHA)

    def test_corpus_is_pinned(self):
        a, _ = gen.gen_corpus(7, 300)
        b, _ = gen.gen_corpus(7, 300)
        self.assertEqual(a, b)
        self.assertEqual(corpus_sha(a), CORPUS_SEED7_SHA)

    def test_dump_covers_the_row_shapes(self):
        text, truth = gen.gen_sacct(7, 400)
        ids = [r["JobID"] for r in truth["rows"]]
        self.assertTrue(any(i.endswith(".batch") and "_" in i for i in ids))
        self.assertTrue(any(i.endswith(".extern") for i in ids))
        self.assertTrue(any(i.endswith(".0") for i in ids))
        states = {r["State"] for r in truth["rows"]}
        self.assertTrue({"RUNNING", "PENDING", "COMPLETED", "CANCELLED by 1234"} <= states)
        self.assertIn(";|;Unknown;|;", text)
        for token in ("UNLIMITED", "gres/gpu=", "Mn", "Mc"):
            self.assertIn(token, text)
        self.assertEqual(len(text.splitlines()), len(truth["rows"]) + 1)


class ReportCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        _, cls.truth = gen.gen_sacct(11, 600)

    def sacct_rows(self, pred):
        rows = []
        for r in self.truth["rows"]:
            if pred(r):
                rows.append(dict(JobID=r["JobID"], User=r["User"], State=r["State"],
                                 Partition=r["Partition"], NCPUS=r["NCPUS"],
                                 CPUTime=float(r["CPUTime"]), Start=check.stamp(r["Start"]),
                                 End=check.stamp(r["End"])))
        return rows

    def test_sacct_job(self):
        key = sorted(self.truth["jobs"])[5]
        only = self.truth["jobs"][key]["job_only"]
        rows = self.sacct_rows(lambda r: r["job_only"] == only)
        ok, _ = check.check_sacct_job(key, tsv(check.SACCT_DEFAULT, rows), self.truth)
        self.assertTrue(ok)
        ok, _ = check.check_sacct_job(key, tsv(check.SACCT_DEFAULT, rows[1:]), self.truth)
        self.assertFalse(ok, "a missing step row must fail")
        bad = [dict(r) for r in rows]
        bad[0]["State"] = "COMPLETED" if bad[0]["State"] != "COMPLETED" else "FAILED"
        ok, _ = check.check_sacct_job(key, tsv(check.SACCT_DEFAULT, bad), self.truth)
        self.assertFalse(ok)

    def seff_rows(self, user):
        out = []
        for k, j in self.truth["jobs"].items():
            if j["user"] != user or j["end"] is None:
                continue
            out.append(dict(
                JobID=k, User=user, hours=rd(j["elapsed"] / 3600, 2), ST=j["state"][:2],
                NCPUS=j["ncpus"], CPUeff=check.safe_div(j["cpu_used"], j["cpu_reserved"]),
                MemAllocGiB=rd(check.safe_div(j["alloc_mem"], check.GIB), 2),
                MemTotGiB=rd(check.safe_div(j["total_mem"], check.GIB), 2),
                NGpus=None if j["ngpus"] is None else float(j["ngpus"])))
        return out

    def test_seff_user_off_by_one_printed_unit_fails(self):
        user = max({j["user"] for j in self.truth["jobs"].values()},
                   key=lambda u: sum(j["user"] == u for j in self.truth["jobs"].values()))
        rows = self.seff_rows(user)
        ok, detail = check.check_seff_user(user, tsv(check.SEFF_JOB, rows), self.truth)
        self.assertTrue(ok, detail)
        bad = [dict(r) for r in rows]
        bad[0]["hours"] = round(bad[0]["hours"] + 0.01, 2)
        ok, _ = check.check_seff_user(user, tsv(check.SEFF_JOB, bad), self.truth)
        self.assertFalse(ok, "hours one printed unit high must fail")

    def test_seff_agg_off_by_one_printed_unit_fails(self):
        want = check.seff_user_expected(self.truth)
        rows = [dict(User=u, **{k: rd(v, check.DIGITS[k]) for k, v in w.items()})
                for u, w in sorted(want.items())]
        ok, detail = check.check_seff_agg("", tsv(check.SEFF_USER, rows), self.truth)
        self.assertTrue(ok, detail)
        bad = [dict(r) for r in rows]
        bad[3]["cpu_day"] = round(bad[3]["cpu_day"] - 0.1, 1)
        ok, _ = check.check_seff_agg("", tsv(check.SEFF_USER, bad), self.truth)
        self.assertFalse(ok, "cpu_day one printed unit low must fail")

    def test_sacct_gpu_order(self):
        user = next(j["user"] for j in self.truth["jobs"].values() if "gpu" in j["partition"])
        rows = self.sacct_rows(lambda r: r["User"] == user and "gpu" in r["Partition"])
        known = sorted([r for r in rows if r["Start"]], key=lambda r: r["Start"], reverse=True)
        ordered = known + [r for r in rows if not r["Start"]]
        ok, detail = check.check_sacct_gpu(user, tsv(check.SACCT_DEFAULT, ordered), self.truth)
        self.assertTrue(ok, detail)
        if len(known) > 1:
            ok, _ = check.check_sacct_gpu(user, tsv(check.SACCT_DEFAULT, ordered[::-1]), self.truth)
            self.assertFalse(ok)


class WarehouseCheckTest(unittest.TestCase):
    def test_duplicated_jobid_fails(self):
        _, truth = gen.gen_sacct(13, 300)
        rows = [dict(JobID=r["JobID"], JobIDnostep=r["key"], User=r["User"], State=r["State"],
                     CPUTime=float(r["CPUTime"]),
                     TotalCPU=None if r["TotalCPU"] is None else float(r["TotalCPU"]))
                for r in truth["rows"]]
        bookmark = check.bookmark_floor(truth)
        res = check.check_warehouse(rows, bookmark, truth)
        self.assertTrue(all(ok for _, ok, _ in res), res)
        dup = rows + [dict(rows[10])]
        res = dict((n, ok) for n, ok, _ in check.check_warehouse(dup, bookmark, truth))
        self.assertFalse(res["distinct_jobids"])
        self.assertFalse(res["row_count"])
        wrong = [dict(r) for r in rows]
        wrong[0]["CPUTime"] += 1
        res = dict((n, ok) for n, ok, _ in check.check_warehouse(wrong, bookmark, truth))
        self.assertFalse(res["job_cpu_s_reserved"] and res["user_cputime_sums"])
        res = dict((n, ok) for n, ok, _ in check.check_warehouse(rows, bookmark - 1, truth))
        self.assertFalse(res["bookmark"], "a bookmark one second low must fail")
        res = dict((n, ok) for n, ok, _ in check.check_warehouse(rows, truth["now"] + 1, truth))
        self.assertFalse(res["bookmark"], "a bookmark past now must fail")
        # with RUNNING rows at Time = now (the defect fixed) the bookmark is now
        res = dict((n, ok) for n, ok, _ in check.check_warehouse(rows, truth["now"], truth))
        self.assertTrue(res["bookmark"])


class CurateCheckTest(unittest.TestCase):
    def test_dropped_keeper_fails(self):
        _, truth = gen.gen_corpus(17, 400)
        docs = truth["docs"]
        by_cluster = {}
        for d in sorted(truth["keepers"]):
            c = docs[d]["cluster"]
            if c is not None:
                by_cluster.setdefault(c, []).append(d)
        pairs = [(ids[0], ids[1]) for ids in by_cluster.values() if len(ids) > 1][:5]
        dropped = {b for _, b in pairs}
        kept = sorted(set(truth["keepers"]) - dropped)
        shards, pos = [], 0
        for d in kept:
            shards.append(dict(doc_id=d, clean_text=docs[d]["clean"], n_tokens=docs[d]["n_tokens"],
                               start_pos=pos, shard_id=pos // 1000))
            pos += docs[d]["n_tokens"]
        res = check.check_curate(shards, pairs, truth, 1000)
        self.assertTrue(all(ok for _, ok, _ in res), res)
        self.assertGreater(check.near_recall(pairs, truth), 0)
        res = dict((n, ok) for n, ok, _ in check.check_curate(shards[1:], pairs, truth, 1000))
        self.assertFalse(res["doc_id_set"], "a dropped keeper must fail")
        unrelated = next(d for d in kept if docs[d]["cluster"] is None)
        res = dict((n, ok) for n, ok, _ in check.check_curate(
            shards, pairs + [(kept[0], unrelated)], truth, 1000))
        self.assertFalse(res["near_pairs_within_planted_cluster"])
        bad = [dict(r) for r in shards]
        bad[2]["n_tokens"] += 1
        res = dict((n, ok) for n, ok, _ in check.check_curate(bad, pairs, truth, 1000))
        self.assertFalse(res["clean_text_and_tokens"])


class ContractTest(unittest.TestCase):
    def test_end_to_end_metrics_are_the_declared_ones(self):
        result = dict(latencies_ms=[900.0, 1100.0], kinds=["ingest", "ingest"], items_per_call=10.0,
                      process_cpu_s=4.0, stored_bytes_per_input_byte=0.3, peak_live_heap_mb=500.0)
        metrics = run.metrics_for(result, 20.0, False)
        self.assertEqual(list(metrics), list(run.END_TO_END))
        self.assertEqual(metrics["op_p50_ms"], 1000.0)
        self.assertEqual(metrics["items_per_s"], 10.0)

    def test_op_p50_weighs_call_kinds_equally(self):
        lat = [100.0, 110.0, 120.0, 130.0, 400.0]
        kinds = ["sacct_job"] * 4 + ["seff_user"]
        self.assertEqual(run.kind_p50_mean(lat, kinds), (115.0 + 400.0) / 2)

    def test_per_layer_names_must_be_declared(self):
        result = dict(latencies_ms=[1.0], plain_latencies_ms=[1.0], peak_rss_mb=1.0,
                      layers={"no.such_layer_s": 1.0})
        with self.assertRaises(SystemExit):
            run.metrics_for(result, 0.0, True)
        result["layers"] = {"views.eff_s": 2.0}
        metrics = run.metrics_for(result, 0.0, True)
        self.assertEqual(list(metrics), list(run.PER_LAYER))
        self.assertEqual(metrics["views.eff_s"], 2.0)
        self.assertEqual(metrics["dedup.exact_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
