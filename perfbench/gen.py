"""Seeded input generator for the two benchmark input shapes.

Every slice is drawn from its own generator seeded by (seed, workload,
slice index), so the same seed always writes byte-identical files and
the same in-memory ground truth, which the output checks compare
against.

Shapes:
  * match_pipeline: wide provider CSV, one file per match, two periods
    per match, one row per frame with `<id>_x`/`<id>_y` columns for 22
    starters, one substitute per team (`h12`, `a12`) and `ball_x/y/z`.
    Planted: absent players (`NA`); dead-ball frames whose ball is more
    than 25 m from every player, which possession inference must drop;
    and a substitution per team whose few overlap frames field 12
    players, which the graph converter's completeness rule must drop
    and EFPI cannot match to an outfield template.
  * corpus_dedup: documents with planted near-duplicate clusters (each
    copy appends one token to its cluster's base document), low-quality
    documents and documents with no language markers, both of which the
    quality gate drops.
"""

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FPS = 25
FRAME_US = 1_000_000 // FPS
HALF_X, HALF_Y = 52.5, 34.0
CARRIER_THRESHOLD = 25.0
HOME = [f"h{i}" for i in range(1, 13)]
AWAY = [f"a{i}" for i in range(1, 13)]
PLAYERS = HOME + AWAY                         # index 11 and 23 are substitutes
IS_HOME = np.arange(24) < 12
BALL = "ball"
WORKLOAD_CODES = {"match_pipeline": 1, "corpus_dedup": 3}

# Slice sizes: (games, frames per period) or (document shards, documents
# per shard). The set-up warm-up slice has the same size, so the JIT has
# compiled the job's hot paths before the first timed job.
SIZES = {"match_pipeline": (2, 300), "corpus_dedup": (4, 150)}
DEAD_BALL_RATE = 0.03
ABSENT_RUNS_PER_GAME = 6


def rng_for(seed, workload, index):
    return np.random.default_rng([seed, WORKLOAD_CODES[workload], index])


def _runs(rng, n, rate, lo, hi):
    """Boolean mask over n frames with roughly `rate` of them covered by
    runs of lo..hi consecutive frames."""
    mask = np.zeros(n, bool)
    target = int(n * rate)
    while mask.sum() < target:
        start = int(rng.integers(0, n))
        mask[start:start + int(rng.integers(lo, hi + 1))] = True
    return mask


def simulate_match(rng, frames_per_period):
    """Smooth trajectories for 24 player slots (the substitutes take over
    the trajectory of the outfield player they replace, 2 m apart) and a
    ball that follows a carrier, switching carrier every 20-80 frames.
    Returns per-frame arrays and the (n, 24) presence mask."""
    n = 2 * frames_per_period
    period = np.repeat([1, 2], frames_per_period).astype(np.int32)
    ts = np.tile(np.arange(frames_per_period, dtype=np.int64) * FRAME_US, 2)
    frame_id = np.arange(n, dtype=np.int64)
    t = frame_id / FPS
    side = np.r_[-np.ones(11), np.ones(11)]
    base_x = side * np.r_[48.0, rng.uniform(5, 45, 10), 48.0, rng.uniform(5, 45, 10)]
    base_y = np.r_[0.0, rng.uniform(-28, 28, 10), 0.0, rng.uniform(-28, 28, 10)]
    amp = rng.uniform(1.0, 6.0, (2, 22))
    w = rng.uniform(0.05, 0.45, (2, 22))
    ph = rng.uniform(0, 2 * np.pi, (2, 22))
    px = base_x + amp[0] * np.sin(w[0] * t[:, None] + ph[0]) + 0.8 * np.sin(3.1 * w[1] * t[:, None])
    py = base_y + amp[1] * np.sin(w[1] * t[:, None] + ph[1]) + 0.8 * np.cos(2.3 * w[0] * t[:, None])
    present = np.ones((n, 24), bool)
    present[:, [11, 23]] = False
    cols_x, cols_y = [], []
    for team, (first, sub) in enumerate(((0, 11), (12, 23))):
        off = 11 * team
        replaced = int(rng.integers(1, 11))
        start = int(rng.integers(n // 4, 3 * n // 4))
        overlap = int(rng.integers(2, 7))
        present[start:, sub] = True
        present[start + overlap:, first + replaced] = False
        cols_x.append(np.c_[px[:, off:off + 11], px[:, off + replaced] + 2.0])
        cols_y.append(np.c_[py[:, off:off + 11], py[:, off + replaced]])
    px = np.round(np.clip(np.concatenate(cols_x, 1), -HALF_X, HALF_X), 4)
    py = np.round(np.clip(np.concatenate(cols_y, 1), -HALF_Y, HALF_Y), 4)
    carrier = np.empty(n, np.int64)
    i = 0
    while i < n:
        length = int(rng.integers(20, 81))
        carrier[i:i + length] = rng.choice(np.flatnonzero(present[i]))
        i += length
    rows = np.arange(n)
    bx = np.round(px[rows, carrier] + 0.7, 4)
    by = np.round(py[rows, carrier] + 0.3, 4)
    bz = np.round(0.2 * np.abs(np.sin(t * 1.7)), 4)
    return {"period": period, "ts": ts, "frame_id": frame_id, "present": present,
            "px": px, "py": py, "bx": bx, "by": by, "bz": bz}


def possession(px, py, present, bx, by, bz):
    """Nearest present player within 25 m of the ball, ties by id:
    (owning team or None, carrier id or None) per frame."""
    d = np.sqrt((px - bx[:, None]) ** 2 + (py - by[:, None]) ** 2 + bz[:, None] ** 2)
    d = np.where(present, d, np.inf)
    order = np.argsort(np.array(PLAYERS))  # string order of ids
    j = order[np.argmin(d[:, order], axis=1)]
    best = d[np.arange(len(bx)), j]
    owning = np.where(best < CARRIER_THRESHOLD, np.where(IS_HOME[j], "home", "away"), None)
    carrier = np.where(best < CARRIER_THRESHOLD, np.array(PLAYERS, dtype=object)[j], None)
    return owning, carrier


def match_slice(rng, slice_dir, slice_index, size):
    os.makedirs(slice_dir, exist_ok=True)
    games = []
    for g in range(size[0]):
        game_id = f"g{slice_index:03d}_{g:02d}"
        m = simulate_match(rng, size[1])
        n = len(m["ts"])
        dead = _runs(rng, n, DEAD_BALL_RATE, 3, 12)
        m["bx"] = np.where(dead, np.sign(m["bx"] + 1e-9) * 80.0, m["bx"])
        m["by"] = np.where(dead, 60.0, m["by"])
        present = m["present"]
        for _ in range(ABSENT_RUNS_PER_GAME):
            start = int(rng.integers(0, n))
            k = int(rng.integers(1, 11)) + 12 * int(rng.integers(0, 2))  # an outfield starter
            present[start:start + int(rng.integers(5, 21)), k] = False
        cols = {"game_id": game_id, "period_id": m["period"], "frame_id": m["frame_id"],
                "timestamp": m["ts"]}
        for k, pid in enumerate(PLAYERS):
            cols[f"{pid}_x"] = np.where(present[:, k], m["px"][:, k], np.nan)
            cols[f"{pid}_y"] = np.where(present[:, k], m["py"][:, k], np.nan)
        cols.update(ball_x=m["bx"], ball_y=m["by"], ball_z=m["bz"])
        path = os.path.join(slice_dir, f"{game_id}.csv")
        pd.DataFrame(cols).to_csv(path, index=False, na_rep="NA", float_format="%.4f")
        m.update(game_id=game_id, dead=dead)
        games.append(m)
    return {"games": games, "records": sum(int(m["present"].sum()) + len(m["ts"]) for m in games)}


def match_props(truths):
    games = [m for t in truths for m in t["games"]]
    frames = sum(len(m["ts"]) for m in games)
    rows = sum(t["records"] for t in truths)
    return {"games": len(games), "frames": frames, "objects_per_frame": round(rows / frames, 3),
            "rows": rows, "documents": 0,
            "dead_ball_frames": int(sum(m["dead"].sum() for m in games)),
            "twelve_player_frames": int(sum(
                ((m["present"][:, :12].sum(1) > 11) | (m["present"][:, 12:].sum(1) > 11)).sum()
                for m in games))}


# ---------------------------------------------------------------- corpus

MARKERS_EN = ["the", "of", "and", "a"]


def vocabulary():
    """A fixed 4000-word vocabulary of 4-9 letter words, none of them a
    language marker; fixed so that text length and tokenisation cost do
    not vary with the seed."""
    rng = np.random.default_rng(99)
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "po", "si", "ve", "zu", "gri", "bel",
            "dor", "fen", "hul", "jor", "kin", "mar", "nov", "pel", "qua", "ros", "sul", "tir"]
    words = set()
    while len(words) < 4000:
        words.add("".join(rng.choice(syll, int(rng.integers(2, 4)))))
    return sorted(words)


def corpus_slice(rng, slice_dir, slice_index, size, vocab):
    """Documents: good English-marked text, planted near-duplicate
    clusters of good documents, low-quality repetitive documents and
    marker-free documents (language `und`). Ground truth records which
    documents must survive the gate and dedup."""
    os.makedirs(slice_dir, exist_ok=True)
    vocab = np.array(vocab, dtype=object)
    shards, per_shard = size
    total = shards * per_shard
    n_low, n_und = int(total * 0.08), int(total * 0.04)
    n_good = total - n_low - n_und
    texts, kind, cluster = [], [], []
    base_count = 0
    while len(texts) < n_good:
        toks = list(rng.choice(vocab, int(rng.integers(110, 180))))
        for p in rng.choice(len(toks), len(toks) // 10, replace=False):
            toks[p] = MARKERS_EN[int(rng.integers(0, 4))]
        copies = int(rng.choice(4, p=[0.8, 0.1, 0.05, 0.05]))
        copies = min(copies, n_good - len(texts) - 1)
        texts.append(toks); kind.append("good"); cluster.append(base_count)
        for _ in range(copies):
            # a copy with one extra trailing token: the differing shingle
            # is the minimum of a MinHash function with probability
            # 1/(shingles+1), so all four LSH bands miss a planted pair
            # with probability below 1e-6 and the clusters are exact
            c = toks + [vocab[int(rng.integers(0, len(vocab)))]]
            texts.append(c); kind.append("good"); cluster.append(base_count)
        base_count += 1
    for _ in range(n_low):
        words = rng.choice(vocab, 3)
        texts.append([words[int(i)] if i < 3 else "the" for i in rng.integers(0, 4, 40)])
        kind.append("low"); cluster.append(-1)
    for _ in range(n_und):
        texts.append(list(rng.choice(vocab, int(rng.integers(110, 180)))))
        kind.append("und"); cluster.append(-1)
    perm = rng.permutation(len(texts))
    doc_ids = np.arange(len(texts), dtype=np.int64) + slice_index * 1_000_000
    docs = pd.DataFrame({"doc_id": doc_ids,
                         "text": [" ".join(texts[i]) for i in perm]})
    kinds = np.array(kind, dtype=object)[perm]
    clusters = np.array(cluster)[perm]
    for k in range(shards):
        shard = docs.iloc[k * per_shard:(k + 1) * per_shard]
        pq.write_table(pa.Table.from_pandas(shard, preserve_index=False),
                       os.path.join(slice_dir, f"docs{k}.parquet"), compression="snappy")
    good = kinds == "good"
    survivors = set(int(x) for x in pd.Series(doc_ids[good]).groupby(clusters[good]).min())
    planted_dups = int(good.sum()) - len(survivors)
    return {"records": len(docs), "docs": docs, "kinds": kinds, "survivors": survivors,
            "planted_dups": planted_dups}


def corpus_props(truths):
    docs = sum(len(t["docs"]) for t in truths)
    dups = sum(t["planted_dups"] for t in truths)
    return {"games": 0, "frames": 0, "objects_per_frame": 0, "rows": docs,
            "documents": docs, "planted_duplicate_rate": round(dups / docs, 6)}


# ----------------------------------------------------------- entry point

def generate(workload, seed, root, slices):
    """Writes `slices` job slices plus a `warmup` slice under `root` and
    returns (truth per slice, input properties). Each truth carries the
    slice's `records`: tracking rows, or documents."""
    truths = []
    vocab = vocabulary() if workload == "corpus_dedup" else None
    for i in range(slices + 1):
        name = "warmup" if i == slices else f"s{i:03d}"
        d = os.path.join(root, name)
        rng = rng_for(seed, workload, i)
        if workload == "match_pipeline":
            truths.append(match_slice(rng, d, i, SIZES[workload]))
        else:
            truths.append(corpus_slice(rng, d, i, SIZES[workload], vocab))
    jobs = truths[:slices]
    props = (match_props if workload == "match_pipeline" else corpus_props)(jobs)
    props["bytes"] = tree_bytes(root, exclude="warmup")
    props["slices"] = slices
    return truths, props


def tree_bytes(root, exclude=None):
    total = 0
    for d, dirs, files in os.walk(root):
        if exclude in dirs:
            dirs.remove(exclude)
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
