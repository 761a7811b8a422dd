"""Seeded input generators for the perfbench workloads.

Every generator takes a seed and writes parquet inputs under a data
directory; the same seed gives byte-identical inputs. Each returns the
warm-up requests, the timed request sequences, and the state the checker
needs to compute expected outputs (see check.py). Nothing is downloaded
and nothing outside the data directory is read.

Sizes (fixed; only content varies with the seed):
  graph   s2.parquet       4 bands x 24 dates x 24 x 24 px = 55,296 rows, 4 row groups
          s2_gaps.parquet  B08 with ~10% interior holes, 24 x 24 x 24 = 13,824 rows
  corpus  documents.parquet 600 docs (30-70 words, 400-word vocabulary)
          shard_000..023    24 x 30 docs; shards 0-3 extend the index, 4-23 are probes
          embeddings.parquet 1,000 x 64-d; queries.parquet 20 groups x 10 queries
          edges.parquet     12 graphs x 2,400 edges over 600 nodes
  stream  events_000..003: 2,000 events each, 200 users, 20 days
The corpus and stream inputs are written for graph_concurrent only, where
one of the clients sends the corpus and stream requests back to back.
"""

import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc

# ---------------------------------------------------------------- graph

BANDS = ["B02", "B03", "B04", "B08"]
GRID = 24
DATES = [dt.datetime(2024, m, d, tzinfo=UTC) for m in range(1, 13) for d in (5, 20)]
GRAPH_KINDS = ["evi", "ndvi", "monthly", "scale", "mask", "gapfill",
               "quantile", "temporal_mean"]
# Warm-up pass: WARM_GRAPHS fresh graphs, the kinds in the same cyclic
# order, sent from nproc threads. Request latency falls steeply over the
# first ~30 graphs of a JVM (JIT warm-up), so the timed phase starts
# after them.
WARM_GRAPHS = 40
REPEAT_EVERY = 4   # every 4th graph of a kind repeats an earlier one exactly
POOL = 2000


def _cube_rows(values, bands):
    """Long-form (t, [bands], y, x, value) columns of a (band, t, y, x) array."""
    nb, nt, ny, nx = values.shape
    t, b, y, x = np.meshgrid(np.arange(nt), np.arange(nb), np.arange(ny),
                             np.arange(nx), indexing="ij")
    cols = {"t": pa.array([DATES[i] for i in t.ravel()], pa.timestamp("us", tz="UTC"))}
    if bands is not None:
        cols["bands"] = pa.array([bands[i] for i in b.ravel()])
    cols["y"] = pa.array(y.ravel().astype(np.float64))
    cols["x"] = pa.array(x.ravel().astype(np.float64))
    v = values.transpose(1, 0, 2, 3).ravel()
    cols["value"] = pa.array(v, mask=np.isnan(v))
    return pa.table(cols)


def make_cube(rng):
    """Reflectance-like values, 4 decimals; returns (values, gaps)."""
    lo = np.array([0.02, 0.03, 0.02, 0.15])[:, None, None, None]
    hi = np.array([0.15, 0.20, 0.25, 0.60])[:, None, None, None]
    u = rng.random((len(BANDS), len(DATES), GRID, GRID))
    values = np.round(lo + (hi - lo) * u, 4)
    gaps = values[3:4].copy()
    holes = rng.random(gaps.shape) < 0.10
    holes[:, 0] = holes[:, -1] = False   # only interior holes are fillable
    gaps[holes] = np.nan
    return values, gaps


def _bbox(rng):
    w, h = int(rng.integers(8, 17)), int(rng.integers(8, 17))
    x0, y0 = int(rng.integers(0, GRID - w + 1)), int(rng.integers(0, GRID - h + 1))
    return (x0, x0 + w, y0, y0 + h)


def _window(rng):
    i0 = int(rng.integers(0, len(DATES) - 4))
    i1 = min(len(DATES), i0 + int(rng.integers(4, 13)))
    return (i0, i1)


def _day(d):
    return d.strftime("%Y-%m-%d")


def _load(bands, bbox=None, win=None, cid="s2"):
    args = {"id": cid}
    if bbox:
        x0, x1, y0, y1 = bbox
        args["spatial_extent"] = {"west": x0 - 0.5, "east": x1 - 0.5,
                                  "south": y0 - 0.5, "north": y1 - 0.5}
    if win:
        args["temporal_extent"] = _extent(win)
    if bands:
        args["bands"] = bands
    return {"process_id": "load_collection", "arguments": args}


def _extent(win):
    # bounds fall two days around observation dates, never on one
    i0, i1 = win
    return [_day(DATES[i0] - dt.timedelta(days=2)), _day(DATES[i1 - 1] + dt.timedelta(days=2))]


def _reduce(data, dim, pg, result=True):
    node = {"process_id": "reduce_dimension",
            "arguments": {"data": {"from_node": data}, "dimension": dim,
                          "reducer": {"process_graph": pg}}}
    if result:
        node["result"] = True
    return node


def _param(name="data"):
    return {"from_parameter": name}


def _simple(pid):
    return {pid: {"process_id": pid, "arguments": {"data": _param()}, "result": True}}


def graph_params(rng, kind):
    p = {"kind": kind, "bbox": _bbox(rng)}
    if kind in ("evi", "ndvi"):
        p["win"] = _window(rng)
        p["red"] = str(rng.choice(["min", "max"]))
    elif kind == "monthly":
        p["band"] = str(rng.choice(BANDS))
        p["red"] = str(rng.choice(["mean", "min", "max"]))
    elif kind == "scale":
        p["band"], p["win"] = str(rng.choice(BANDS)), _window(rng)
        p["in_max"] = round(float(rng.uniform(0.1, 0.5)), 2)
    elif kind == "mask":
        p["band"], p["win"] = str(rng.choice(BANDS)), _window(rng)
        p["thr"] = round(float(rng.uniform(0.05, 0.4)), 3)
    elif kind in ("quantile", "temporal_mean"):
        p["band"], p["win"] = str(rng.choice(BANDS)), _window(rng)
    return p


def graph_doc(p):
    """The openEO process-graph JSON for parameters `p` (shapes as in the
    published examples pinned by GraphConformanceSpec)."""
    k, bbox = p["kind"], p["bbox"]
    if k == "evi":
        ae = lambda i: {"process_id": "array_element", "arguments": {"data": _param(), "index": i}}
        pg = {"load": _load(["B02", "B04", "B08"], bbox, p["win"]),
              "evi": _reduce("load", "bands", {
                  "nir": ae(2), "red": ae(1), "blue": ae(0),
                  "sub": {"process_id": "subtract", "arguments": {"x": {"from_node": "nir"}, "y": {"from_node": "red"}}},
                  "p1": {"process_id": "multiply", "arguments": {"x": {"from_node": "red"}, "y": 6}},
                  "p2": {"process_id": "multiply", "arguments": {"x": {"from_node": "blue"}, "y": -7.5}},
                  "sum": {"process_id": "sum", "arguments": {"data": [1, {"from_node": "nir"}, {"from_node": "p1"}, {"from_node": "p2"}]}},
                  "div": {"process_id": "divide", "arguments": {"x": {"from_node": "sub"}, "y": {"from_node": "sum"}}},
                  "p3": {"process_id": "multiply", "arguments": {"x": {"from_node": "div"}, "y": 2.5}, "result": True}},
                  result=False),
              "comp": _reduce("evi", "t", _simple(p["red"]))}
    elif k == "ndvi":
        lab = lambda b: {"process_id": "array_element", "arguments": {"data": _param(), "label": b}}
        pg = {"load": _load(["B04", "B08"], bbox, p["win"]),
              "ndvi": _reduce("load", "bands", {
                  "red": lab("B04"), "nir": lab("B08"),
                  "nd": {"process_id": "normalized_difference", "arguments": {"x": {"from_node": "nir"}, "y": {"from_node": "red"}}, "result": True}},
                  result=False),
              "comp": _reduce("ndvi", "t", _simple(p["red"]))}
    elif k == "monthly":
        pg = {"load": _load([p["band"]], bbox),
              "monthly": {"process_id": "aggregate_temporal_period", "arguments": {
                  "data": {"from_node": "load"}, "period": "month",
                  "reducer": {"process_graph": _simple(p["red"])}}, "result": True}}
    elif k == "scale":
        pg = {"load": _load([p["band"]], bbox, p["win"]),
              "scale": {"process_id": "apply", "arguments": {
                  "data": {"from_node": "load"},
                  "process": {"process_graph": {"lsr": {"process_id": "linear_scale_range", "arguments": {
                      "x": _param("x"), "inputMin": 0, "inputMax": p["in_max"],
                      "outputMin": 0, "outputMax": 255}, "result": True}}}}, "result": True}}
    elif k == "mask":
        pg = {"load": _load([p["band"]], bbox, p["win"]),
              "threshold": {"process_id": "apply", "arguments": {
                  "data": {"from_node": "load"},
                  "process": {"process_graph": {"gt": {"process_id": "gt", "arguments": {
                      "x": _param("x"), "y": p["thr"]}, "result": True}}}}},
              "masked": {"process_id": "mask", "arguments": {
                  "data": {"from_node": "load"}, "mask": {"from_node": "threshold"},
                  "replacement": 0}, "result": True}}
    elif k == "gapfill":
        pg = {"load": _load(None, bbox, cid="s2_gaps"),
              "fill": {"process_id": "apply_dimension", "arguments": {
                  "data": {"from_node": "load"}, "dimension": "t",
                  "process": {"process_graph": {"interp": {"process_id": "array_interpolate_linear",
                                                           "arguments": {"data": _param()}, "result": True}}}},
                       "result": True}}
    elif k == "quantile":
        pg = {"load": _load([p["band"]], bbox, p["win"]),
              "stat": _reduce("load", "t", {
                  "q": {"process_id": "quantiles", "arguments": {"data": _param(), "probabilities": [0.25, 0.75]}},
                  "hi": {"process_id": "array_element", "arguments": {"data": {"from_node": "q"}, "index": 1}},
                  "lo": {"process_id": "array_element", "arguments": {"data": {"from_node": "q"}, "index": 0}},
                  "iqr": {"process_id": "subtract", "arguments": {"x": {"from_node": "hi"}, "y": {"from_node": "lo"}}},
                  "med": {"process_id": "median", "arguments": {"data": _param()}},
                  "z": {"process_id": "add", "arguments": {"x": {"from_node": "iqr"}, "y": {"from_node": "med"}}, "result": True}})}
    elif k == "temporal_mean":
        pg = {"load": _load([p["band"]], bbox),
              "window": {"process_id": "filter_temporal", "arguments": {
                  "data": {"from_node": "load"}, "extent": _extent(p["win"])}},
              "mean": _reduce("window", "t", _simple("mean"))}
    else:
        raise ValueError(k)
    return json.dumps({"process_graph": pg}, separators=(",", ":"))


def count_nodes(pg):
    """Process nodes in a graph, callbacks included."""
    n = 0
    for node in pg.values():
        n += 1
        for v in node.get("arguments", {}).values():
            if isinstance(v, dict) and "process_graph" in v:
                n += count_nodes(v["process_graph"])
    return n


def gen_graph(seed, data_dir, stream, mixed=False):
    """Writes s2/s2_gaps; returns (warmup, requests, side, state).

    `stream` picks the request seed stream, so graph_serial and
    graph_concurrent share a cube generator but not a request sequence.
    With `mixed`, the corpus and stream inputs are written too and `side`
    is the corpus cycle one client sends; otherwise it is empty.
    """
    rng = np.random.default_rng([seed, 1])
    values, gaps = make_cube(rng)
    pq.write_table(_cube_rows(values, BANDS), f"{data_dir}/s2.parquet", row_group_size=16384)
    pq.write_table(_cube_rows(gaps, None), f"{data_dir}/s2_gaps.parquet", row_group_size=4096)
    rr = np.random.default_rng([seed, 2, stream])
    params, seq = {}, []
    by_kind = {k: [] for k in GRAPH_KINDS}
    while len(seq) < POOL:
        # a fixed kind order and a fixed repeat pattern keep the mix the same
        # in every run; the parameters and which graph repeats are seeded.
        # Repeats are staggered across kinds, so every cycle of the eight
        # kinds holds two and traced and untraced blocks get equal shares.
        cycle = len(seq) // len(GRAPH_KINDS)
        for k, kind in enumerate(GRAPH_KINDS):
            if (cycle + k) % REPEAT_EVERY == REPEAT_EVERY - 1 and by_kind[kind]:
                key = by_kind[kind][int(rr.integers(0, len(by_kind[kind])))]
            else:
                key = f"g{len(params)}"
                params[key] = graph_params(rr, kind)
                by_kind[kind].append(key)
            seq.append(key)
    wr = np.random.default_rng([seed, 3])
    warm = {f"w{i}": graph_params(wr, GRAPH_KINDS[i % len(GRAPH_KINDS)]) for i in range(WARM_GRAPHS)}
    params.update(warm)
    req = lambda key: {"kind": params[key]["kind"], "key": key,
                       "args": {"graph": graph_doc(params[key])}}
    warmup, requests = [req(k) for k in warm], [req(k) for k in seq]
    state = {"values": values, "gaps": gaps, "params": params}
    side = []
    if mixed:
        side, c_state = gen_corpus(seed, data_dir)
        state.update(c_state)
    return warmup, requests, side, state


# --------------------------------------------------------------- corpus

N_DOCS, N_GROUPS, N_SHARDS, SHARD_DOCS, N_EXT = 600, 8, 24, 30, 4
N_VECS, DIMS, N_QGROUPS, Q_PER_GROUP = 1000, 64, 20, 10
N_GRAPHS, N_NODES, N_EDGES, PR_ITERS = 12, 600, 2400, 5
# Traced runs trace alternate blocks of TRACE_BLOCK graph requests, and
# every corpus or stream request.
TRACE_BLOCK = 8
# Fixed order, so every run sees the same mix: one call per entry point,
# the index write among them. Parameters are seeded.
CORPUS_CYCLE = ["probe", "sessionize", "ivf_topk", "index_write", "pagerank", "near_dups"]
# Side requests have indices SIDE_BASE + j, apart from the graph requests.
SIDE_BASE = 1000000
SIDE_LEN = 120


def _vocab(rng, n=400):
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "da", "gu", "fo", "ri", "ze", "ba", "hu"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl, size=int(rng.integers(2, 4)))))
    return sorted(words)


def _perturb(rng, words, vocab, k):
    w = list(words)
    for i in rng.choice(len(w), size=k, replace=False):
        w[i] = vocab[int(rng.integers(0, len(vocab)))]
    return w


def gen_corpus(seed, data_dir):
    rng = np.random.default_rng([seed, 10])
    vocab = _vocab(rng)
    boiler = [vocab[int(i)] for i in rng.integers(0, len(vocab), size=45)]
    docs = []
    for i in range(N_DOCS):
        r = rng.random()
        same_grp = [d for d in docs if d[0] % N_GROUPS == i % N_GROUPS]
        if r < 0.15 and same_grp:        # planted near-dup of an earlier doc
            src = same_grp[int(rng.integers(0, len(same_grp)))][1].split(" ")
            words = _perturb(rng, src, vocab, 1)
        elif r < 0.21:                   # hot bucket: shared boilerplate
            words = _perturb(rng, boiler, vocab, int(rng.integers(2, 6)))
        else:
            words = [vocab[int(j)] for j in rng.integers(0, len(vocab), size=int(rng.integers(30, 71)))]
        docs.append((i, " ".join(words)))
    _write_docs(f"{data_dir}/documents.parquet", docs, [d[0] % N_GROUPS for d in docs])
    shards = []
    for j in range(N_SHARDS):
        sd = []
        for m in range(SHARD_DOCS):
            r = rng.random()
            if r < 0.5:
                src = docs[int(rng.integers(0, N_DOCS))][1].split(" ")
                words = _perturb(rng, src, vocab, int(rng.integers(1, 3)))
            elif r < 0.6:
                words = _perturb(rng, boiler, vocab, int(rng.integers(2, 6)))
            else:
                words = [vocab[int(k)] for k in rng.integers(0, len(vocab), size=int(rng.integers(30, 71)))]
            sd.append((100000 + 100 * j + m, " ".join(words)))
        _write_docs(f"{data_dir}/shard_{j:03d}.parquet", sd, [j] * len(sd))
        shards.append(sd)

    centers = rng.normal(size=(16, DIMS))
    vec = (centers[rng.integers(0, 16, size=N_VECS)] + 0.35 * rng.normal(size=(N_VECS, DIMS))).astype(np.float32)
    pq.write_table(pa.table({"vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
                             "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                             "label": pa.array(np.zeros(N_VECS, dtype=np.int32))}),
                   f"{data_dir}/embeddings.parquet")
    nq = N_QGROUPS * Q_PER_GROUP
    qsrc = rng.integers(0, N_VECS, size=nq)
    qv = (vec[qsrc] + 0.02 * rng.normal(size=(nq, DIMS))).astype(np.float32)
    pq.write_table(pa.table({"vec_id": pa.array(1000000 + np.arange(nq, dtype=np.int64)),
                             "embedding": pa.array(list(qv), pa.list_(pa.float32())),
                             "grp": pa.array((np.arange(nq) // Q_PER_GROUP).astype(np.int32))}),
                   f"{data_dir}/queries.parquet")

    src, dst, grp = [], [], []
    for g in range(N_GRAPHS):
        base = g * 10000
        w = 1.0 / (1 + np.arange(N_NODES)) ** 0.8
        d = rng.choice(N_NODES, size=N_EDGES, p=w / w.sum())
        s = rng.integers(0, N_NODES, size=N_EDGES)
        src += list(base + s)
        dst += list(base + d)
        grp += [g] * N_EDGES
    pq.write_table(pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64()),
                             "grp": pa.array(grp, pa.int32())}), f"{data_dir}/edges.parquet")

    files = _stream_files(np.random.default_rng([seed, 20]), data_dir)
    rr = np.random.default_rng([seed, 11])
    kinds = (CORPUS_CYCLE * (SIDE_LEN // len(CORPUS_CYCLE) + 1))[:SIDE_LEN]
    # the k-th stream run reads events file k mod N_FRESH; a run reaches
    # at most N_FRESH, so none re-reads a file (no shard-memo hits)
    fresh = iter(range(len(kinds)))
    # the standing index holds extension shard 0 after set-up; a probe
    # must see the one of the latest index write before it
    seq, ext = [], 0
    for k in kinds:
        if k == "sessionize":
            seq.append(_stream_req(f"events_{next(fresh) % N_FRESH:03d}"))
        else:
            seq.append(corpus_req(k, rr, ext))
            ext = seq[-1]["args"]["shard"] if k == "index_write" else ext
    return seq, {"docs": dict(docs), "shards": shards, "vec": vec, "qv": qv, "qsrc": qsrc,
                 "edges": (np.array(src), np.array(dst), np.array(grp)), "files": files}


def corpus_req(kind, r, ext):
    if kind == "probe":
        a = {"shard": int(r.integers(N_EXT, N_SHARDS)), "ext": ext}
    elif kind == "near_dups":
        a = {"grp": int(r.integers(0, N_GROUPS))}
    elif kind == "ivf_topk":
        a = {"grp": int(r.integers(0, N_QGROUPS))}
    elif kind == "pagerank":
        a = {"grp": int(r.integers(0, N_GRAPHS)), "iters": PR_ITERS}
    else:
        a = {"shard": int(r.integers(0, N_EXT))}
    return {"kind": kind, "key": kind + ":" + ",".join(f"{k}={v}" for k, v in sorted(a.items())), "args": a}


def _write_docs(path, docs, grps):
    pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                             "text": pa.array([d[1] for d in docs]),
                             "grp": pa.array(grps, pa.int32())}), path)


# --------------------------------------------------------------- stream

N_FRESH, N_EVENTS, N_USERS, STREAM_SHARDS = 4, 2000, 200, 3
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]


def _events(rng):
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp() * 1e6
    ts = np.sort(t0 + rng.integers(0, 20 * 86400 * 10**6, size=N_EVENTS))
    users = 1 + np.minimum(rng.zipf(1.3, size=N_EVENTS), N_USERS) - 1
    return {"event_id": np.arange(N_EVENTS, dtype=np.int64), "ts": ts.astype(np.int64),
            "user_id": users.astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=N_EVENTS),
            "value": np.round(rng.uniform(1, 500, size=N_EVENTS), 2)}


def _write_events(path, ev):
    pq.write_table(pa.table({
        "event_id": pa.array(ev["event_id"]), "ts": pa.array(ev["ts"], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(ev["user_id"]), "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]), "props": pa.array(['{"k": 1}'] * len(ev["value"]))}), path)


def _stream_files(rng, data_dir):
    files = {}
    for name in [f"events_{i:03d}" for i in range(N_FRESH)]:
        files[name] = _events(rng)
        _write_events(f"{data_dir}/{name}.parquet", files[name])
    return files


def _stream_req(name):
    return {"kind": "sessionize", "key": f"sessionize:{name}",
            "args": {"file": name, "shards": STREAM_SHARDS}}
