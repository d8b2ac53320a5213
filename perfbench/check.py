"""Output checks for the graft benchmark.

Expected values come from the generator's truth (its own integers), never
from graft code. Each check returns (name, ok, detail). A report number
that graft rounds to d digits must lie within half a unit of its last
printed digit of the exact value, plus a relative 1e-9 for a different
summation order: a window one printed unit wide, so a number off by one
printed unit fails.
"""

import datetime
from collections import Counter, defaultdict

SACCT_DEFAULT = [
    "JobID", "User", "State", "Start", "End", "Partition", "ExitCodeRaw",
    "NodeList", "NCPUS", "CPUTime", "CPUEff", "AllocMem", "TotalMem",
    "MemEff", "ReqGPUS", "GpuEff", "TotDiskRead", "TotDiskWrite",
    "ReqTRES", "AllocTRES", "TRESUsageInTot", "TRESUsageOutTot"]
SEFF_JOB = ["JobID", "User", "hours", "ST", "NCPUS", "CPUeff", "MemAllocGiB",
            "MemTotGiB", "MemEff", "NGpus", "GpuEff", "read_MiBps", "write_MiBps"]
SEFF_USER = ["User", "days", "cpu_day", "cpueff_pct", "mem_GiB_day", "gpu_day",
             "gpueff_pct", "read_MiBps", "write_MiBps"]
GIB = 1 << 30
MIB = 1 << 20


def stamp(t):
    if t is None:
        return ""
    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def safe_div(a, b):
    return None if a is None or b is None or b == 0 else a / b


def _num(s):
    return None if s == "" else float(s)


def near(printed, exact, digits):
    """`printed` is `exact` rounded to `digits`; NULL only matches NULL."""
    got = _num(printed)
    if got is None or exact is None:
        return got is None and exact is None
    return abs(got - exact) <= 0.5 * 10.0 ** -digits + 1e-9 * max(1.0, abs(exact))


def close(printed, expected, rel=1e-9):
    got = _num(printed)
    if got is None or expected is None:
        return got is None and expected is None
    return abs(got - expected) <= rel * max(1.0, abs(expected))


def parse_tsv(text):
    lines = text.split("\n")
    header = lines[0].split("\t")
    return header, [dict(zip(header, ln.split("\t"))) for ln in lines[1:] if ln != ""]


# ---- sacct / seff reports ---------------------------------------------

def check_sacct_job(key, text, truth):
    jobs = truth["jobs"]
    job_only = jobs[key]["job_only"]
    want = {r["JobID"]: r for r in truth["rows"] if r["job_only"] == job_only}
    header, rows = parse_tsv(text)
    if header != SACCT_DEFAULT:
        return False, f"header {header}"
    got = [r["JobID"] for r in rows]
    if sorted(got) != sorted(want):
        return False, f"JobIDs {sorted(got)[:5]} != {sorted(want)[:5]}"
    for r in rows:
        w = want[r["JobID"]]
        exp = dict(User=w["User"] or "", State=w["State"], Partition=w["Partition"],
                   NCPUS=str(w["NCPUS"]), CPUTime=f"{float(w['CPUTime']):.1f}",
                   Start=stamp(w["Start"]), End=stamp(w["End"]))
        for k, v in exp.items():
            if r[k] != v:
                return False, f"{r['JobID']} {k}={r[k]!r} want {v!r}"
    return True, f"{len(rows)} rows"


def _cpu_eff(j):
    return safe_div(j["cpu_used"], j["cpu_reserved"])


def check_seff_user(user, text, truth):
    want = {k: j for k, j in truth["jobs"].items() if j["user"] == user and j["end"] is not None}
    header, rows = parse_tsv(text)
    if header != SEFF_JOB:
        return False, f"header {header}"
    got = [r["JobID"] for r in rows]
    if sorted(got) != sorted(want):
        return False, f"jobs {sorted(got)[:5]} != {sorted(want)[:5]}"
    for r in rows:
        j = want[r["JobID"]]
        ok = (r["User"] == user and r["ST"] == j["state"][:2] and r["NCPUS"] == str(j["ncpus"])
              and near(r["hours"], j["elapsed"] / 3600, 2)
              and close(r["CPUeff"], _cpu_eff(j))
              and near(r["MemAllocGiB"], safe_div(j["alloc_mem"], GIB), 2)
              and near(r["MemTotGiB"], safe_div(j["total_mem"], GIB), 2)
              and close(r["NGpus"], j["ngpus"]))
        if not ok:
            return False, f"{r['JobID']}: {r}"
    return True, f"{len(rows)} jobs"


def seff_user_expected(truth):
    """seff --aggregate-user before rounding, from the generator's per-job integers."""
    per = defaultdict(list)
    for j in truth["jobs"].values():
        if j["end"] is not None:
            per[j["user"]].append(j)
    out = {}
    for u, js in per.items():
        def total(f):
            vals = [f(j) for j in js]
            vals = [v for v in vals if v is not None]
            return sum(vals) if vals else None
        e = total(lambda j: j["elapsed"])
        en = total(lambda j: j["elapsed"] * j["ncpus"])
        een = total(lambda j: None if _cpu_eff(j) is None else j["elapsed"] * j["ncpus"] * _cpu_eff(j))
        mem = total(lambda j: None if j["alloc_mem"] is None else j["elapsed"] * j["alloc_mem"])
        gpu = total(lambda j: None if j["ngpus"] is None else j["elapsed"] * j["ngpus"])
        rdb = total(lambda j: None if j["disk_read"] is None else j["disk_read"] / MIB)
        wrb = total(lambda j: None if j["disk_write"] is None else j["disk_write"] / MIB)
        eff = safe_div(een, en)
        out[u] = dict(
            days=e / 86400, cpu_day=en / 86400,
            cpueff_pct=None if eff is None else eff * 100,
            mem_GiB_day=None if mem is None else mem / GIB / 86400,
            gpu_day=None if gpu is None else gpu / 86400,
            read_MiBps=safe_div(rdb, e), write_MiBps=safe_div(wrb, e))
    return out


DIGITS = dict(days=1, cpu_day=1, cpueff_pct=4, mem_GiB_day=1, gpu_day=1, read_MiBps=2, write_MiBps=2)


def check_seff_agg(_arg, text, truth):
    want = seff_user_expected(truth)
    header, rows = parse_tsv(text)
    if header != SEFF_USER:
        return False, f"header {header}"
    if sorted(r["User"] for r in rows) != sorted(want):
        return False, "user set differs"
    for r in rows:
        w = want[r["User"]]
        for k, d in DIGITS.items():
            if not near(r[k], w[k], d):
                return False, f"{r['User']} {k}={r[k]} want {w[k]}"
    return True, f"{len(rows)} users"


def check_sacct_gpu(user, text, truth):
    want = sorted(r["JobID"] for r in truth["rows"] if r["User"] == user and "gpu" in r["Partition"])
    header, rows = parse_tsv(text)
    if header != SACCT_DEFAULT:
        return False, f"header {header}"
    if sorted(r["JobID"] for r in rows) != want:
        return False, "JobIDs differ"
    starts = [r["Start"] for r in rows]
    known = [s for s in starts if s]
    if known != sorted(known, reverse=True) or starts[:len(known)] != known:
        return False, "not ordered by Start desc, NULLs last"
    return True, f"{len(rows)} rows"


REPORT_CHECKS = dict(sacct_job=check_sacct_job, seff_user=check_seff_user,
                     seff_agg=check_seff_agg, sacct_gpu=check_sacct_gpu)


def check_report(kind, arg, text, truth):
    try:
        return REPORT_CHECKS[kind](arg, text, truth)
    except (KeyError, ValueError, IndexError) as e:
        return False, f"unreadable output: {e!r}"


# ---- warehouse ---------------------------------------------------------

def check_warehouse(rows, bookmark, truth):
    """`rows`: dicts with JobID, JobIDnostep, User, State, CPUTime, TotalCPU."""
    t_rows = truth["rows"]
    res = []
    res.append(("row_count", len(rows) == len(t_rows), f"{len(rows)} vs {len(t_rows)}"))
    ids = [r["JobID"] for r in rows]
    res.append(("distinct_jobids", len(set(ids)) == len(ids) and set(ids) == {r["JobID"] for r in t_rows},
                f"{len(set(ids))} distinct of {len(ids)}"))
    got_states = Counter(r["State"] for r in rows)
    want_states = Counter(r["State"] for r in t_rows)
    res.append(("state_counts", got_states == want_states, str(dict(got_states))))

    def sums(rs, key, val, agg):
        out = defaultdict(list)
        for r in rs:
            if r[val] is not None:
                out[r[key]].append(r[val])
        return {k: agg(v) for k, v in out.items()}
    got_u = sums([r for r in rows if r["User"] is not None], "User", "CPUTime", sum)
    want_u = sums([r for r in t_rows if r["User"] is not None], "User", "CPUTime", sum)
    res.append(("user_cputime_sums", got_u == want_u, f"{len(got_u)} users"))
    got_res = sums(rows, "JobIDnostep", "CPUTime", max)
    want_res = {k: j["cpu_reserved"] for k, j in truth["jobs"].items()}
    res.append(("job_cpu_s_reserved", got_res == want_res, f"{len(got_res)} jobs"))
    got_used = sums(rows, "JobIDnostep", "TotalCPU", sum)
    want_used = {k: j["cpu_used"] for k, j in truth["jobs"].items() if j["cpu_used"] is not None}
    res.append(("job_totalcpu_sums", got_used == want_used, f"{len(got_used)} jobs"))
    lo, now = bookmark_floor(truth), truth["now"]
    res.append(("bookmark", bookmark is not None and lo <= bookmark <= now,
                f"{bookmark} not in [{lo}, {now}]"))
    return res


def bookmark_floor(truth):
    """The lowest correct bookmark: the latest End, or Submit of a job that
    never started, capped at `now`. A RUNNING row's `Time` is left out,
    since graft sets it to 0 where it should be `now` (a known defect):
    so the bookmark may lie anywhere from this floor up to `now`."""
    times = [r["End"] if r["End"] is not None else r["Submit"]
             for r in truth["rows"] if r["End"] is not None or r["Start"] is None]
    return min(max(times), truth["now"])


def load_warehouse(path):
    import pyarrow.dataset as ds
    cols = ["JobID", "JobIDnostep", "User", "State", "CPUTime", "TotalCPU"]
    t = ds.dataset(f"{path}/slurm", format="parquet", partitioning="hive").to_table(columns=cols)
    rows = t.to_pylist()
    bm = ds.dataset(f"{path}/meta_lastupdate", format="parquet").to_table().column("update_time").to_pylist()
    return rows, (max(bm) if bm else None)


# ---- curated corpus ----------------------------------------------------

def check_curate(shards, pairs, truth, shard_tokens):
    """`shards`: dicts with doc_id, clean_text, n_tokens, start_pos, shard_id;
    `pairs`: (doc_a, doc_b) near-duplicate pairs the pipeline verified."""
    docs = truth["docs"]
    keepers = set(truth["keepers"])
    res = []
    in_cluster = all(a in docs and b in docs and docs[a]["cluster"] is not None
                     and docs[a]["cluster"] == docs[b]["cluster"] for a, b in pairs)
    res.append(("near_pairs_within_planted_cluster", in_cluster, f"{len(pairs)} pairs"))
    dropped = {b for _, b in pairs}
    out_ids = [r["doc_id"] for r in shards]
    res.append(("doc_id_set", len(out_ids) == len(set(out_ids)) and set(out_ids) == keepers - dropped,
                f"{len(out_ids)} docs, want {len(keepers - dropped)}"))
    res.append(("keeper_count", len(set(out_ids) | (dropped & keepers)) == len(keepers)
                and dropped <= keepers, f"{len(keepers)} keepers"))
    texts_ok = all(r["doc_id"] in docs and r["clean_text"] == docs[r["doc_id"]]["clean"]
                   and r["n_tokens"] == docs[r["doc_id"]]["n_tokens"] for r in shards)
    res.append(("clean_text_and_tokens", texts_ok, ""))
    total = sum(r["n_tokens"] for r in shards)
    want_total = sum(docs[d]["n_tokens"] for d in keepers - dropped)
    res.append(("token_total", total == want_total, f"{total} vs {want_total}"))
    ordered = sorted(shards, key=lambda r: r["start_pos"])
    pos = 0
    prefix_ok = True
    for r in ordered:
        if r["start_pos"] != pos or r["shard_id"] != pos // shard_tokens:
            prefix_ok = False
            break
        pos += r["n_tokens"]
    res.append(("shard_prefix_sums", prefix_ok, f"{pos} tokens"))
    return res


def near_recall(pairs, truth):
    """Planted near-duplicate pairs among keepers that the pipeline found."""
    by_cluster = defaultdict(list)
    for d in truth["keepers"]:
        c = truth["docs"][d]["cluster"]
        if c is not None:
            by_cluster[c].append(d)
    planted = {(a, b) for ids in by_cluster.values() for a in ids for b in ids if a < b}
    found = {(min(a, b), max(a, b)) for a, b in pairs} & planted
    return len(found) / len(planted) if planted else 1.0


def load_curated(path):
    import pyarrow.dataset as ds
    shards = ds.dataset(f"{path}/shards", format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "clean_text", "n_tokens", "start_pos", "shard_id"]).to_pylist()
    pairs = ds.dataset(f"{path}/pairs", format="parquet").to_table(columns=["doc_a", "doc_b"]).to_pylist()
    return shards, [(p["doc_a"], p["doc_b"]) for p in pairs]
