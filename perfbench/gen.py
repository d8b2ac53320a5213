"""Seeded input generators for the graft benchmark.

Every input graft receives is written here from a seed, and every value
an output check expects is derived from the generator's own integers,
never from graft code. The same seed gives byte-identical files
(`tests/test_perfbench.py` pins the hashes).
"""

import datetime
import json
import os
import random
from bisect import bisect_right
from itertools import accumulate

DELIM = ";|;"

# graft's SacctSource.SACCT_FIELDS, in order (the header a dump carries).
SACCT_FIELDS = [
    "JobName", "User", "Group", "Account", "SubmitLine", "State",
    "Timelimit", "Elapsed", "Submit", "Start", "End", "Partition",
    "ExitCode", "NodeList", "Priority", "ReqNodes", "NNodes",
    "AllocNodes", "ReqTRES", "NTasks", "AllocTRES", "TRESUsageInTot",
    "TRESUsageOutTot", "NCPUS", "ReqCPUS", "AllocCPUS", "CPUTime",
    "TotalCPU", "UserCPU", "SystemCPU", "MinCPU", "MinCPUNode",
    "MinCPUTask", "ReqMem", "AveRSS", "MaxRSS", "MaxRSSNode",
    "MaxRSSTask", "MaxPages", "MaxVMSize", "AveDiskRead",
    "AveDiskWrite", "MaxDiskRead", "MaxDiskWrite", "Comment",
    "JobID", "JobIDRaw", "ConsumedEnergyRaw", "TRESUsageInAve"]

# 30 days of submits starting 2026-06-01T00:00:00Z; "now" is pinned
# three days after the window so every ended job's End lies before it.
T0 = 1780272000
DAYS = 30
NOW = T0 + (DAYS + 3) * 86400

UNITS = {"K": 1, "M": 2, "G": 3}


def slurm_time(s):
    """Seconds → sacct's `[d-]hh:mm:ss`."""
    d, r = divmod(s, 86400)
    h, r = divmod(r, 3600)
    m, sec = divmod(r, 60)
    return f"{d}-{h:02d}:{m:02d}:{sec:02d}" if d else f"{h:02d}:{m:02d}:{sec:02d}"


_DAY_CACHE = {}


def iso(t):
    """Epoch seconds → `YYYY-MM-DDTHH:MM:SS` (UTC)."""
    d, r = divmod(t, 86400)
    day = _DAY_CACHE.get(d)
    if day is None:
        day = _DAY_CACHE[d] = datetime.datetime.fromtimestamp(
            d * 86400, datetime.timezone.utc).strftime("%Y-%m-%d")
    h, r = divmod(r, 3600)
    m, sec = divmod(r, 60)
    return f"{day}T{h:02d}:{m:02d}:{sec:02d}"


def zipf_picker(rng, n, s):
    cum = list(accumulate(1.0 / (k ** s) for k in range(1, n + 1)))
    total = cum[-1]
    return lambda: bisect_right(cum, rng.random() * total)


def mem_str(rng, mib):
    """`mib` MiB written in a random binary unit: (text, bytes)."""
    unit = rng.choice("KMG" if mib % 1024 == 0 else "KM")
    return f"{mib * 1024 // 1024 ** (UNITS[unit] - 1)}{unit}", mib << 20


def gen_sacct(seed, n_jobs, n_users=400):
    """A raw `sacct -P --delimiter=';|;'` dump plus the truth it encodes.

    Returns (text, truth). `truth["rows"]` holds one dict per dump row
    with the integers behind it; `truth["jobs"]` one dict per job key
    (JobIDnostep) with the eff-view quantities the reports print.
    """
    rng = random.Random(seed)
    rnd = rng.random

    class R:
        """randrange/choice on one uniform draw each (faster than random's)."""
        @staticmethod
        def randrange(a, b=None):
            return int(rnd() * a) if b is None else a + int(rnd() * (b - a))

        @staticmethod
        def choice(seq):
            return seq[int(rnd() * len(seq))]

        random = staticmethod(rnd)
    pick_user = zipf_picker(rng, n_users, 1.1)
    rng = R
    lines = [DELIM.join(SACCT_FIELDS)]
    rows = []
    jobs = {}
    next_id = 4000000 + rng.randrange(1000)
    for _ in range(n_jobs):
        u = pick_user()
        user = f"u{u:04d}"
        group = f"g{u % 37:02d}"
        account = f"acct{u % 23:02d}"
        r = rng.random()
        gpu = r < 0.15
        partition = (rng.choice(["gpu", "gpu-a100"]) if gpu
                     else rng.choice(["batch", "batch", "batch", "interactive", "debug"]))
        job_id = next_id
        next_id += 1 + rng.randrange(3)
        n_tasks = 1 + rng.randrange(6) if rng.random() < 0.08 else 0
        keys = [f"{job_id}_{t}" for t in range(n_tasks)] if n_tasks else [str(job_id)]
        if n_tasks:
            next_id += n_tasks
        submit = T0 + rng.randrange(DAYS * 86400)
        for ti, key in enumerate(keys):
            raw_id = job_id + ti if n_tasks else job_id
            sr = rng.random()
            if sr < 0.04:
                state = "PENDING"
            elif sr < 0.09:
                state = "RUNNING"
            elif sr < 0.12:
                state = "CANCELLED by 1234"
            elif sr < 0.20:
                state = "FAILED"
            elif sr < 0.24:
                state = "TIMEOUT"
            elif sr < 0.26:
                state = "OUT_OF_MEMORY"
            else:
                state = "COMPLETED"
            ncpus = rng.choice([1, 2, 4, 8, 8, 16, 32])
            nnodes = 1 if ncpus <= 16 else rng.choice([1, 2])
            ngpus = rng.choice([1, 2, 4]) if gpu else 0
            mem_units = rng.choice([1, 2, 4, 8, 16, 32, 64])      # GiB
            alloc_mem = mem_units * 1024 ** 3
            limit = None if partition == "interactive" else rng.choice([3600, 14400, 86400, 172800])
            wait = rng.randrange(7200)
            start = None if state == "PENDING" else submit + wait
            if state == "PENDING":
                elapsed = 0
                end = None
            elif state == "RUNNING":
                start = NOW - 1 - rng.randrange(20000)
                submit = start - wait
                elapsed = NOW - start
                end = None
            elif state == "CANCELLED by 1234" and rng.random() < 0.3:
                # cancelled before it started: End set, Start unknown
                start = None
                elapsed = 0
                end = submit + wait
            else:
                elapsed = 30 + rng.randrange(limit or 90000)
                if state == "TIMEOUT" and limit:
                    elapsed = limit
                end = start + elapsed
            cputime = elapsed * ncpus
            if state == "PENDING":
                ec = "0:0"
            elif state == "FAILED":
                ec = f"{1 + rng.randrange(3)}:0"
            elif state == "OUT_OF_MEMORY":
                ec = "0:125"
            elif state.startswith("CANCELLED"):
                ec = "0:15"
            else:
                ec = "0:0"
            node = (f"gpu{rng.randrange(40):02d}" if gpu
                    else f"n{rng.randrange(500):03d}" if nnodes == 1
                    else f"n[{rng.randrange(250) * 2:03d}-{rng.randrange(250) * 2 + 1:03d}]")
            if start is None:
                node = "None assigned"
            gpu_tres = f",gres/gpu={ngpus},gres/gpu:a100={ngpus}" if gpu else ""
            alloc_tres = (f"billing={ncpus},cpu={ncpus},mem={mem_units}G,node={nnodes}{gpu_tres}"
                          if start is not None else "")
            req_tres = f"billing={ncpus},cpu={ncpus},mem={mem_units}G,node={nnodes}" + (
                f",gres/gpu={ngpus}" if gpu else "")
            req_mem_kind = rng.randrange(4)
            if req_mem_kind == 0:
                req_mem = f"{mem_units}G"
            elif req_mem_kind == 1:
                req_mem = f"{mem_units * 1024}Mn"
            elif req_mem_kind == 2:
                req_mem = f"{mem_units * 1024 * 1024}K"
            else:
                req_mem = f"{mem_units * 1024 // ncpus if mem_units * 1024 >= ncpus else 1}Mc"
            job_name = f"run_{rng.randrange(100000)}"
            priority = rng.randrange(1, 200000)
            energy = rng.randrange(0, 5000000)
            timelimit = "UNLIMITED" if limit is None else slurm_time(limit)
            submit_line = f"sbatch --partition={partition} -c {ncpus} {job_name}.sh"
            alloc = dict(
                JobName=job_name, User=user, Group=group, Account=account,
                SubmitLine=submit_line, State=state, Timelimit=timelimit,
                Elapsed=slurm_time(elapsed), Submit=iso(submit),
                Start=iso(start) if start is not None else "Unknown",
                End=iso(end) if end is not None else "Unknown",
                Partition=partition, ExitCode=ec, NodeList=node,
                Priority=str(priority), ReqNodes=str(nnodes), NNodes=str(nnodes),
                AllocNodes=str(nnodes if start is not None else 0), ReqTRES=req_tres,
                NTasks="", AllocTRES=alloc_tres, TRESUsageInTot="", TRESUsageOutTot="",
                NCPUS=str(ncpus), ReqCPUS=str(ncpus), AllocCPUS=str(ncpus if start is not None else 0),
                CPUTime=slurm_time(cputime), TotalCPU="", UserCPU="", SystemCPU="",
                MinCPU="", MinCPUNode="", MinCPUTask="", ReqMem=req_mem, AveRSS="",
                MaxRSS="", MaxRSSNode="", MaxRSSTask="", MaxPages="", MaxVMSize="",
                AveDiskRead="", AveDiskWrite="", MaxDiskRead="", MaxDiskWrite="",
                Comment="", JobID=key, JobIDRaw=str(raw_id),
                ConsumedEnergyRaw=str(energy), TRESUsageInAve="")
            job_rows = [dict(JobID=key, User=user, State=state, Partition=partition,
                             Submit=submit, Start=start, End=end, NCPUS=ncpus, CPUTime=cputime,
                             Elapsed=elapsed, TotalCPU=None, AllocMem=alloc_mem if start is not None else None,
                             TotDiskRead=None, TotDiskWrite=None, job_only=job_id, key=key)]
            lines.append(DELIM.join([alloc[f] for f in SACCT_FIELDS]))
            steps = []
            if start is not None:
                steps = ["batch", "extern"] + [str(i) for i in range(rng.choice([0, 0, 1, 1, 2, 3]))]
            total_cpu = 0
            disk_r = 0
            disk_w = 0
            max_rss = 0
            util_sum = 0
            for step in steps:
                s_ncpus = ncpus if step != "extern" else 1
                s_elapsed = elapsed if step in ("batch", "extern") else rng.randrange(elapsed + 1)
                s_cputime = s_elapsed * s_ncpus
                if step == "extern":
                    s_used = 0
                else:
                    s_used = rng.randrange(s_cputime + 1)
                s_state = (state if step == "batch"
                           else "RUNNING" if state == "RUNNING"
                           else "COMPLETED" if step == "extern"
                           else rng.choice(["COMPLETED", "COMPLETED", "FAILED"]))
                rss_units = rng.randrange(1, 1 + mem_units * 1024)   # MiB
                rss_txt, rss_bytes = mem_str(rng, rss_units)
                rd_bytes = rng.randrange(0, 1 << 34)
                wr_bytes = rng.randrange(0, 1 << 32)
                util = rng.randrange(0, 101 * max(ngpus, 1)) if gpu and step != "extern" else 0
                gpu_use = (f",gres/gpumem={rng.randrange(1, 80)}G,gres/gpuutil={util}"
                           if gpu and step != "extern" else "")
                usage_in = (f"cpu={slurm_time(s_used)},energy=0,fs/disk={rd_bytes},"
                            f"mem={rss_txt},pages=0,vmem={rss_units * 2}M{gpu_use}")
                usage_out = f"energy=0,fs/disk={wr_bytes}"
                s_key = f"{key}.{step}"
                s_elapsed_txt = slurm_time(s_elapsed)
                s_cpu_txt = slurm_time(s_used)
                host = node.split("[")[0]
                srow = dict(
                    JobName=step if step in ("batch", "extern") else job_name,
                    Account=account, State=s_state, Elapsed=s_elapsed_txt,
                    Submit=alloc["Submit"], Start=alloc["Start"],
                    End=iso(start + s_elapsed) if end is not None else "Unknown",
                    Partition=partition, ExitCode=ec if step == "batch" else "0:0",
                    NodeList=node, ReqNodes=alloc["ReqNodes"], NNodes=alloc["NNodes"],
                    AllocNodes=alloc["AllocNodes"], NTasks="1",
                    AllocTRES=f"cpu={s_ncpus},mem={mem_units}G,node={nnodes}{gpu_tres}",
                    TRESUsageInTot=usage_in, TRESUsageOutTot=usage_out,
                    NCPUS=str(s_ncpus), ReqCPUS=str(s_ncpus), AllocCPUS=str(s_ncpus),
                    CPUTime=slurm_time(s_cputime), TotalCPU=s_cpu_txt,
                    MinCPUNode=host, ReqMem=req_mem, MaxRSS=rss_txt, MaxRSSNode=host,
                    MaxVMSize=f"{rss_units * 2}M", MaxDiskRead=str(rd_bytes),
                    MaxDiskWrite=str(wr_bytes), JobID=s_key, JobIDRaw=f"{raw_id}.{step}")
                lines.append(DELIM.join([srow.get(f, "") for f in SACCT_FIELDS]))
                job_rows.append(dict(JobID=s_key, User=None, State=s_state, Partition=partition,
                                     Submit=submit, Start=start, End=start + s_elapsed if end is not None else None,
                                     NCPUS=s_ncpus, CPUTime=s_cputime, Elapsed=s_elapsed,
                                     TotalCPU=s_used, AllocMem=alloc_mem, TotDiskRead=rd_bytes,
                                     TotDiskWrite=wr_bytes, job_only=job_id, key=key))
                total_cpu += s_used
                disk_r += rd_bytes
                disk_w += wr_bytes
                max_rss = max(max_rss, rss_bytes)
                util_sum += util * s_elapsed
            rows.extend(job_rows)
            jobs[key] = dict(
                key=key, job_only=job_id, user=user, state=state, partition=partition,
                start=start, end=end, elapsed=elapsed, ncpus=ncpus,
                cpu_reserved=max(r["CPUTime"] for r in job_rows),
                cpu_used=total_cpu if steps else None,
                alloc_mem=alloc_mem if start is not None else None,
                total_mem=max_rss if steps else None,
                ngpus=ngpus if gpu and start is not None else None,
                disk_read=disk_r if steps else None, disk_write=disk_w if steps else None)
    text = "\n".join(lines) + "\n"
    return text, dict(rows=rows, jobs=jobs, now=NOW)


# The four call kinds take turns: J = `sacct <JobID>`, S = `seff -u`,
# G = `sacct -r gpu -u --order`, A = `seff --aggregate-user`. Equal shares
# are an assumption, not a measured or published picture of how sacct and
# seff are called; the report_db figures do not depend on the shares (see
# README.md), only on each kind's own latency.
CALL_PATTERN = "JSGA"
KIND = dict(J="sacct_job", S="seff_user", G="sacct_gpu", A="seff_agg")


def report_calls(seed, truth, n_calls):
    """A seeded sequence of report calls: (kind, argument) pairs.

    The first two lookups are a RUNNING and a PENDING job, so every run
    checks what the reports show for jobs without an End. Users are drawn
    uniformly over the users that have jobs, so the Zipf skew of the dump
    gives a mix of heavy users and one-job users.
    """
    rng = random.Random(seed * 7919 + 17)
    jobs = truth["jobs"]
    keys = sorted(jobs)
    users = sorted({j["user"] for j in jobs.values()})
    gpu_users = sorted({j["user"] for j in jobs.values() if "gpu" in j["partition"]})
    first = [rng.choice([k for k in keys if jobs[k]["state"] == s]) for s in ("RUNNING", "PENDING")]
    calls = []
    for i in range(n_calls):
        kind = KIND[CALL_PATTERN[i % len(CALL_PATTERN)]]
        if kind == "sacct_job":
            arg = first.pop(0) if first else rng.choice(keys)
        elif kind == "seff_user":
            arg = rng.choice(users)
        elif kind == "sacct_gpu":
            arg = rng.choice(gpu_users)
        else:
            arg = ""
        calls.append((kind, arg))
    return calls


# ---- corpus ----------------------------------------------------------

MUST = ["the", "of", "and"]
BANNED = ["cookies", "javascript"]
MIN_TOKENS = 4


def _word(rng, alphabet, lo, hi):
    return "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))


def gen_corpus(seed, n_docs, n_shards=8):
    """JSONL shards of synthetic documents plus the truth they encode.

    Each document is a few lines. A line survives TextOps.cleanLines iff
    it has >= MIN_TOKENS tokens, contains a MUST token and no BANNED
    token; the generator decides that per line and records the result.
    Planted: exact duplicates (byte-identical text under a new doc_id)
    and near-duplicate clusters (a base document with a few words of its
    kept lines replaced). Everything else draws from its own words.
    """
    rng = random.Random(seed * 104729 + 3)
    vocab = sorted({_word(rng, "abcdefghijklmnopqrstuvwxyz", 3, 9) for _ in range(60000)}
                   - set(MUST) - set(BANNED))

    def line_of(words, keep):
        toks = [rng.choice(vocab) for _ in range(words)]
        if keep:
            toks[rng.randrange(len(toks))] = rng.choice(MUST)
        return toks

    def fresh_doc():
        lines = []
        for _ in range(rng.randint(4, 9)):
            kind = rng.random()
            if kind < 0.12:
                toks = line_of(rng.randint(4, 12), True)
                toks[rng.randrange(len(toks))] = rng.choice(BANNED)
                lines.append((toks, False))
            elif kind < 0.22:
                lines.append((line_of(rng.randint(1, MIN_TOKENS - 1), False), False))
            elif kind < 0.30:
                # long enough but no MUST token
                lines.append(([rng.choice(vocab) for _ in range(rng.randint(5, 12))], False))
            else:
                lines.append((line_of(rng.randint(8, 30), True), True))
        return lines

    def perturb(lines):
        out = []
        for toks, keep in lines:
            toks = list(toks)
            if keep:
                for _ in range(max(1, len(toks) // 14)):
                    i = rng.randrange(len(toks))
                    if toks[i] not in MUST:
                        toks[i] = rng.choice(vocab)
            out.append((toks, keep))
        return out

    docs = []          # (doc_id, lines, cluster)
    next_id = 1
    n_clusters = max(1, n_docs // 40)
    for c in range(n_clusters):
        base = fresh_doc()
        while not any(k for _, k in base):
            base = fresh_doc()
        for m in range(rng.randint(2, 4)):
            docs.append((next_id, base if m == 0 else perturb(base), c))
            next_id += rng.randint(1, 3)
    while len(docs) < n_docs * 0.93:
        docs.append((next_id, fresh_doc(), None))
        next_id += rng.randint(1, 3)
    originals = list(docs)
    while len(docs) < n_docs:
        src = rng.choice(originals)
        docs.append((next_id, src[1], src[2]))
        next_id += rng.randint(1, 3)
    rng.shuffle(docs)

    shards = [[] for _ in range(n_shards)]
    by_text = {}
    truth_docs = {}
    for i, (doc_id, lines, cluster) in enumerate(docs):
        text = "\n".join(" ".join(t) for t, _ in lines)
        kept = [" ".join(t) for t, k in lines if k]
        clean = "\n".join(kept)
        n_tokens = sum(len(t) for t, k in lines if k)
        rec = {"doc_id": doc_id, "text": text, "lang": "en",
               "source": f"src{doc_id % 5}", "n_chars": len(text)}
        shards[i % n_shards].append(json.dumps(rec, separators=(",", ":")))
        truth_docs[doc_id] = dict(clean=clean, n_tokens=n_tokens, cluster=cluster,
                                  n_lines=len(lines), n_kept=len(kept))
        if kept:
            by_text.setdefault(clean, []).append(doc_id)
    keepers = {min(ids): len(ids) for ids in by_text.values()}
    files = {f"part-{k:05d}.jsonl": "\n".join(s) + "\n" for k, s in enumerate(shards)}
    return files, dict(docs=truth_docs, keepers=keepers)


def write_files(root, files):
    os.makedirs(root, exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(root, name), "w") as f:
            f.write(text)
