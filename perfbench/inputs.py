"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of the seed: the same seed writes the
same files. The engine only ever sees the files written here.
"""
import hashlib
import json
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
GATE_DATA = os.path.join(HERE, "data", "sf0.001")
GATE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
PARTS = 4  # input files per CSV source; each small file is one scan split

# --- rest_enrich ------------------------------------------------------------

REST_KEYS = 200
# 404 share: one key in seven, the rule of the stub the repository's own
# REST gate (q131_rest_pipeline) answers with (`id % 7 == 0` gives 404).
REST_MISSING_SHARE = 1 / 7
# 503 share: 503 on the first request, 200 on the retry. No measured rate
# exists in the repository; this is an assumption, large enough that the
# retry path (with RestStage's default 200 ms x attempt backoff) is a
# visible share of the work.
REST_RETRY_SHARE = 0.10
# Service time: the stub stands in for a remote HTTP API such as the one
# the reference countries.yml pipeline calls. An assumption, not a
# measurement, sized so that waiting on the service is most of the wall.
REST_SERVICE_MS = 50.0

# No retryBackoffMillis: the engine's default applies.
REST_YAML = """\
inDelimiter: ","
outDelimiter: ","
filters:
  - name: lookup
    actionType: rest
    filterThreads: 1
    actionConfig:
      host: "{host}"
      path: "/item/{{key}}"
      method: GET
      maxRetries: 2
      newField: response
  - name: extract
    actionType: python
    code: |
      import json
      obj = json.loads(row['response'])
      row['name'] = obj.get('name', '')
      row['score'] = obj.get('score', '')
  - name: project
    actionType: sql
    code: SELECT id, key, name, score FROM df
"""


def rest_body(key):
    """The stub's 200 body for a key; the check rebuilds it the same way."""
    h = sum((i + 1) * ord(c) for i, c in enumerate(key))
    return {"key": key, "name": f"item-{h % 9973}", "score": str(h % 1000)}


def rest_keys(seed, out_dir):
    """Keys CSV (id, key) in PARTS files and the stub's per-key plan:
    'ok', 'retry' (503 then 200) or 'missing' (404). Returns the plan.
    Every file gets the same number of retry and missing keys: each file
    is one task, and the slowest task sets the wall, so the seed changes
    which keys fail, not how the failures are balanced."""
    rng = random.Random(f"rest_enrich:{seed}")
    keys = [f"k{rng.getrandbits(40):010x}" for _ in range(REST_KEYS)]
    plan = {}
    for p in range(PARTS):
        part = keys[p::PARTS]
        n_retry = round(len(part) * REST_RETRY_SHARE)
        n_missing = round(len(part) * REST_MISSING_SHARE)
        for rank, k in enumerate(rng.sample(part, len(part))):
            plan[k] = ("retry" if rank < n_retry else
                       "missing" if rank < n_retry + n_missing else "ok")
    _write_csv_parts(out_dir, ["id", "key"], [(i, k) for i, k in enumerate(keys)])
    return plan

# --- helpers ----------------------------------------------------------------


def _write_csv_parts(out_dir, header, rows):
    """Plain CSV without quoting: generated values hold no delimiter,
    quote or newline."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for p in range(PARTS):
        with open(os.path.join(tmp, f"part-{p}.csv"), "w") as f:
            f.write(",".join(header) + "\n")
            for r in rows[p::PARTS]:
                f.write(",".join(str(v) for v in r) + "\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def generate(workload, seed, root):
    """Write the inputs for (workload, seed) under `root` once; later calls
    reuse them (the directory name carries a hash of this file, so a
    changed generator writes fresh inputs). Returns a dict describing them."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(root, f"{workload}-{seed}-{version}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(d, exist_ok=True)
    meta = {"dir": d}
    if workload == "rest_enrich":
        meta["input"] = os.path.join(d, "keys.csv")
        meta["plan"] = rest_keys(seed, meta["input"])
        meta["input_rows"] = len(meta["plan"])
    elif workload == "gate_suite":
        # the gate tables are fixed data, and the gates run in a fixed
        # order: the order decides which gate pays the cold-start costs
        meta["gates"] = gate_list()
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def gate_list():
    with open(os.path.join(HERE, "gates.txt")) as f:
        return [g.split("#")[0].strip() for g in f if g.split("#")[0].strip()]


def copy_gate_data(dst):
    os.makedirs(dst, exist_ok=True)
    for t in GATE_TABLES:
        shutil.copyfile(os.path.join(GATE_DATA, f"{t}.parquet"),
                        os.path.join(dst, f"{t}.parquet"))
