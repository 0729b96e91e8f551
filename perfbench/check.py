"""Output checks for the benchmark jobs.

Each check reads one finished job's output and compares it against a
reference computed here from the generator's ground truth, with numpy
only: nothing in this file calls the engine under test. A check
returns a list of failure messages; an empty list means the job's
output is correct.

Tolerances: recomputed floating-point values must agree within
TOL_REL relative error (absolute below 1.0); counts, keys, shapes,
labels and texts must match exactly.
"""

import math

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

HALF_X = gen.HALF_X
TOL_REL = 1e-7
PLAYER_SAVGOL, BALL_SAVGOL = 7, 3           # window lengths, polyorder 1
MAX_SPEED = {"player": 12.0, "ball": 28.0}
MAX_ACCEL = {"player": 6.0, "ball": 13.5}
PI_REACTION, PI_THRESHOLD, PI_SIGMA, PI_VMAX = 0.7, 1.5, 0.45, 12.0
CHUNK_SIZE, CHUNK_STRIDE = 512, 384
FORMATIONS = {"5221", "352", "343flat", "3232", "4222", "41212", "343", "41221",
              "433", "4321", "4141", "442", "3331", "31312", "3241", "3142",
              "2422", "2332", "2431"}


def close(got, want):
    got, want = np.asarray(got, float), np.asarray(want, float)
    return got.shape == want.shape and bool(
        np.all(np.abs(got - want) <= TOL_REL * np.maximum(1.0, np.abs(want))))


def read(path):
    return pq.read_table(path).to_pandas()


# ------------------------------------------------ match_pipeline: load

def savgol(v, window):
    """Savitzky-Golay, polyorder 1, scipy's mode='interp': a least-squares
    line through each centred window, and through the first / last
    `window` samples for the edge points. Shorter series pass through."""
    n, m = len(v), window // 2
    if n < window:
        return v.copy()
    out = np.empty(n)
    out[m:n - m] = np.convolve(v, np.full(window, 1.0 / window), mode="valid")
    xs = np.arange(window)
    head = np.polyval(np.polyfit(xs, v[:window], 1), xs[:m])
    tail = np.polyval(np.polyfit(xs, v[-window:], 1), xs[window - m:])
    out[:m], out[n - m:] = head, tail
    return out


def kinematics(ts, x, y, z, is_ball):
    """Reference kinematics of one object's series in one period."""
    sec = (ts // 1000) / 1000.0
    dt = np.diff(sec)
    w = BALL_SAVGOL if is_ball else PLAYER_SAVGOL
    vel = []
    for p in (x, y, z):
        v = np.zeros(len(p))
        v[1:] = np.diff(p) / dt
        vel.append(savgol(v, w))
    acc = []
    for v in vel:
        a = np.zeros(len(v))
        a[1:] = np.diff(v) / dt
        acc.append(a)
    kind = "ball" if is_ball else "player"
    speed = np.minimum(np.sqrt(sum(v * v for v in vel)), MAX_SPEED[kind])
    accel = np.minimum(np.sqrt(sum(a * a for a in acc)), MAX_ACCEL[kind])
    return vel, speed, acc, accel


def goalkeepers(m, owning):
    """Per frame, the id of each team's present player closest to the
    goal it defends in possession-normalised play: the left goal for the
    owning team, the right goal for the other."""
    owns_home = owning == "home"
    gx = np.where(gen.IS_HOME[None, :] == owns_home[:, None], -HALF_X, HALF_X)
    d = np.sqrt((m["px"] - gx) ** 2 + m["py"] ** 2)
    d = np.where(m["present"], d, np.inf)
    ids = np.array(gen.PLAYERS, dtype=object)
    return ids[np.argmin(d[:, :12], 1)], ids[12 + np.argmin(d[:, 12:], 1)]


def check_prepared(truth, df):
    """The load → goalkeepers half of the journey, against the numpy
    reference: rows kept, possession, carrier, keepers, kinematics."""
    errors = []
    expected_rows = 0
    for m in truth["games"]:
        owning, carrier = gen.possession(m["px"], m["py"], m["present"], m["bx"], m["by"], m["bz"])
        keep = owning != None  # noqa: E711 (element-wise)
        expected_rows += int((m["present"][keep].sum(axis=1) + 1).sum())
        g = df[df.game_id == m["game_id"]]
        frames = g.groupby("frame_id")["ball_owning_team_id"].agg(["first", "nunique"])
        want = pd.Series(owning[keep], index=m["frame_id"][keep])
        if not frames.index.equals(pd.Index(want.index)) or (frames["nunique"] != 1).any() \
                or not (frames["first"] == want.reindex(frames.index)).all():
            errors.append(f"{m['game_id']}: possession frames or owning team differ")
            continue
        carriers = g[g.is_ball_carrier].set_index("frame_id")["id"].sort_index()
        if list(carriers.index) != list(m["frame_id"][keep]) \
                or list(carriers) != list(carrier[keep]):
            errors.append(f"{m['game_id']}: ball carriers differ")
        gk_home, gk_away = goalkeepers(m, owning)
        gk = g[g.position_name == "GK"].sort_values(["frame_id", "id"])
        want_gk = sorted((f, i) for f, h, a in
                         zip(m["frame_id"][keep], gk_home[keep], gk_away[keep]) for i in (h, a))
        if list(zip(gk.frame_id, gk.id)) != want_gk:
            errors.append(f"{m['game_id']}: goalkeepers differ")
        # kinematics per (object, period), over the full pre-possession series
        for k, oid in enumerate(gen.PLAYERS + [gen.BALL]):
            is_ball = oid == gen.BALL
            for period in (1, 2):
                sel = m["period"] == period
                if not is_ball:
                    sel = sel & m["present"][:, k]
                if not sel.any():
                    continue
                x = (m["bx"] if is_ball else m["px"][:, k])[sel]
                y = (m["by"] if is_ball else m["py"][:, k])[sel]
                z = m["bz"][sel] if is_ball else np.zeros(int(sel.sum()))
                vel, speed, acc, accel = kinematics(m["ts"][sel], x, y, z, is_ball)
                survive = keep[sel]
                got = g[(g.id == oid) & (g.period_id == period)].sort_values("timestamp")
                want_cols = {"vx": vel[0], "vy": vel[1], "vz": vel[2], "v": speed,
                             "ax": acc[0], "ay": acc[1], "az": acc[2], "a": accel}
                if len(got) != int(survive.sum()):
                    errors.append(f"{m['game_id']}/{oid}/{period}: {len(got)} rows, "
                                  f"want {int(survive.sum())}")
                    continue
                bad = [c for c, w in want_cols.items() if not close(got[c].to_numpy(), w[survive])]
                if bad:
                    errors.append(f"{m['game_id']}/{oid}/{period}: {','.join(bad)} differ")
    if len(df) != expected_rows:
        errors.append(f"{len(df)} prepared rows written, want {expected_rows}")
    return errors


# ---------------------------------------------- match_pipeline: models

def pressing_reference(x, v, owning_cols, carrier, ball_x, ball_v):
    """Closed-form TTI/PTI (method 'teams', ball_method 'max',
    orientation 'ball_owning') for a batch of frames of one shape:
    `x`/`v` are (frames, defenders, 3) defending-player positions and
    velocities, `owning_cols` the (frames, attackers, 6) owning players'
    positions and velocities, `carrier` their carrier flags and
    `ball_x`/`ball_v` (frames, 3). The ball column folds into the
    carrier's column as an element-wise minimum."""
    def tti(p1, v1):
        p1, v1 = p1[:, None, :, :], v1[:, None, :, :]
        p2, v2 = x[:, :, None, :], v[:, :, None, :]
        u = (p1 + v1) - p1
        d2 = p2 + v2
        vv = d2 - p1
        u_mag = np.sqrt((u * u).sum(-1))
        v_mag = np.sqrt((vv * vv).sum(-1))
        angle = np.arccos((u * vv).sum(-1) / (u_mag * v_mag + 1e-10))
        d = d2 - (p1 + v1 * PI_REACTION)
        return u_mag * angle / math.pi + PI_REACTION + np.sqrt((d * d).sum(-1)) / PI_VMAX

    t = tti(owning_cols[..., :3], owning_cols[..., 3:])
    tb = tti(ball_x[:, None, :], ball_v[:, None, :])
    t = np.where(carrier[:, None, :], np.minimum(t, tb), t)
    arg = np.clip(-math.pi / math.sqrt(3.0) / PI_SIGMA * (PI_THRESHOLD - t), -700, 700)
    return t, 1.0 / (1.0 + np.exp(arg))


def frame_references(table):
    """Per (game, frame): owning ids and defending ids in id order, and
    the reference TTI/PTI matrices. Frames are batched by
    their (owning, defending) sizes so the arithmetic is vectorised."""
    refs = {}
    t = table.sort_values(["game_id", "frame_id", "id"], kind="stable").reset_index(drop=True)
    keys = list(zip(t.game_id, t.frame_id))
    game, frame = t.game_id.to_numpy(), t.frame_id.to_numpy()
    starts = np.flatnonzero(np.r_[True, (game[1:] != game[:-1]) | (frame[1:] != frame[:-1])])
    bounds = np.r_[starts, len(t)]
    team = t.team_id.to_numpy()
    owning_team = t.ball_owning_team_id.to_numpy()
    ids = t.id.to_numpy()
    pos = t[["x", "y", "z"]].to_numpy()
    vel = t[["vx", "vy", "vz"]].to_numpy()
    carrier = t.is_ball_carrier.to_numpy()
    groups = {}
    for i in range(len(starts)):
        a, b = bounds[i], bounds[i + 1]
        own = owning_team[a]
        att = a + np.flatnonzero(team[a:b] == own)
        dfd = a + np.flatnonzero((team[a:b] != own) & (team[a:b] != gen.BALL))
        ball = a + np.flatnonzero(team[a:b] == gen.BALL)
        groups.setdefault((len(att), len(dfd)), []).append((keys[a], att, dfd, ball[0]))
    for members in groups.values():
        att = np.stack([m[1] for m in members])
        dfd = np.stack([m[2] for m in members])
        ball = np.array([m[3] for m in members])
        tti, pti = pressing_reference(pos[dfd], vel[dfd], np.concatenate([pos[att], vel[att]], -1),
                                      carrier[att], pos[ball], vel[ball])
        for k, (key, a_idx, d_idx, _) in enumerate(members):
            refs[key] = (list(ids[a_idx]), list(ids[d_idx]), tti[k], pti[k])
    return refs


def check_models(table, out):
    """The models half of the journey. `table` is the prepared table the
    models read, already checked against the reference by
    check_prepared."""
    errors = []
    frames = frame_references(table)
    extra = {k for k, f in frames.items() if len(f[0]) > 11 or len(f[1]) > 11}

    pi = read(f"{out}/pi")
    if len(pi) != len(frames) or set(zip(pi.game_id, pi.frame_id)) != set(frames):
        errors.append(f"pressing: {len(pi)} frames, want {len(frames)}")
    else:
        for r in pi.itertuples():
            cid, rid, t, p = frames[(r.game_id, r.frame_id)]
            if list(r.rows) != rid or list(r.columns) != cid:
                errors.append(f"pressing {r.game_id}/{r.frame_id}: row/column labels differ")
            elif not close(np.stack(r.time_to_intercept), t) \
                    or not close(np.stack(r.probability_to_intercept), p):
                errors.append(f"pressing {r.game_id}/{r.frame_id}: tti/pti differ")
            if len(errors) > 5:
                break

    graphs = read(f"{out}/graphs")
    keys = set(zip(graphs.game_id.astype(str), graphs.frame_id))
    if keys != set(frames) - extra or len(graphs) != len(keys):
        errors.append(f"graphs: {len(graphs)} graphs, want {len(frames) - len(extra)} "
                      f"(the {len(extra)} frames where a team fields 12 must be dropped)")
    for r in graphs.itertuples():
        f = frames.get((str(r.game_id), r.frame_id))
        a = np.stack(r.a) if len(r.a) else np.zeros((0, 0))
        # padding rows (id "") lead their side; the ball comes last
        want_ids = [""] * (11 - len(f[0])) + f[0] + [""] * (11 - len(f[1])) + f[1] + [gen.BALL] \
            if f is not None else None
        if f is None or list(r.object_ids) != want_ids or a.shape != (23, 23) \
                or len(r.x) != 23 or len({len(v) for v in r.x}) != 1 \
                or len(r.e) != int(a.sum()) or r.graph_id != f"{r.game_id}-{r.frame_id}":
            errors.append(f"graph {r.game_id}/{r.frame_id}: shape or node order wrong")
            break

    efpi = read(f"{out}/efpi")
    if len(efpi) != len(table):
        errors.append(f"formations: {len(efpi)} rows, want one per object row ({len(table)})")
    else:
        owning = table.groupby(["game_id", "frame_id"]).ball_owning_team_id.first()
        e = efpi.join(owning.rename("owning"), on=["game_id", "segment_id"])
        size = table[table.team_id != gen.BALL].groupby(["game_id", "frame_id", "team_id"]).size()
        e = e.join(size.rename("team_size"), on=["game_id", "segment_id", "team_id"])
        ball = e[e.team_id == gen.BALL]
        team = e[e.team_id != gen.BALL]
        full = team.team_size == 11    # EFPI has templates for 10 outfield players
        ok = team[full]
        per_team = ok.groupby(["game_id", "segment_id", "team_id"]).agg(
            formations=("formation", "nunique"), positions=("position", "nunique"),
            players=("id", "size"), gk=("position", lambda s: int((s == "GK").sum())))
        if not ((ball.position == gen.BALL).all() and (ball.formation == gen.BALL).all()):
            errors.append("formations: ball rows mislabelled")
        if not (ok.formation.isin(FORMATIONS).all()
                and (ok.is_attacking == (ok.team_id == ok.owning)).all()
                and (per_team.formations == 1).all() and (per_team.gk == 1).all()
                and (per_team.positions == per_team.players).all()):
            errors.append("formations: a team has no single template formation, "
                          "duplicate positions or a wrong attacking flag")
        if team[~full].formation.notna().any():
            errors.append("formations: a team without 10 outfield players was given a formation")
    return errors


# ---------------------------------------------------------- corpus_dedup

def check_corpus(truth, out):
    errors = []
    chunks = read(f"{out}/chunks")
    got = set(int(d) for d in chunks.doc_id.unique())
    want = truth["survivors"]
    if got != want:
        errors.append(f"dedup: {len(got)} survivors, want {len(want)} "
                      f"({len(got - want)} extra, {len(want - got)} missing)")
    texts = dict(zip(truth["docs"].doc_id, truth["docs"].text))
    for doc_id, g in chunks.groupby("doc_id"):
        toks = texts[int(doc_id)].lower().split()
        starts = range(0, len(toks), CHUNK_STRIDE)
        want_text = [" ".join(toks[s:s + CHUNK_SIZE]) for s in starts]
        g = g.sort_values("chunk_idx")
        if list(g.chunk_idx) != list(range(len(want_text))) \
                or list(g.chunk_text) != want_text \
                or list(g.n_tokens) != [len(t.split()) for t in want_text]:
            errors.append(f"chunks of doc {doc_id} differ")
            break
    return errors


def check_match(truth, out):
    prepared = read(f"{out}/prepared")
    return check_prepared(truth, prepared) or check_models(prepared, out)


CHECKS = {"match_pipeline": check_match, "corpus_dedup": check_corpus}
