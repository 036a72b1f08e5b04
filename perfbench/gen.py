"""Seeded benchmark inputs and the outputs they must produce.

Everything here is numpy and the standard library: the expected values are
computed from the generated frames by an independent implementation of the
reference semantics (catalog layout, payload decode, same-µs mean, P4 crop,
mean resample, bounded time interpolation, forecast reprojection, backward
as-of GPS), never by running the engine under test.

One seed gives byte-identical input files and identical expectations.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np

# 2020-01-26 12:00 UTC (09:00 at the reference site, UTC-3): the span stays
# in daylight so the forecast layer's solar physics yields non-zero POA
BASE_EPOCH = 1_580_040_000
SITE = (-26.243602, -48.6417668)
MAX_GAP_S = 60.0  # resample_stage's default gap-fill bound
GAP_FACTOR = 1.5  # planted silences, in units of MAX_GAP_S
UNKNOWN_SIG = 0xFF  # collides with no module signature of either catalog

# per-line kind probabilities (the reference report's reject classes)
P_GARBAGE = 0.002  # regex-rejected
P_UNKNOWN = 0.005  # unknown module signature, dropped at decode
P_SIZE = 0.002  # payload one byte too long, dropped by the size guard
P_DUP = 0.001  # repeats the previous line's timestamp (same-µs merge)

_TYPES = {
    "u8": (1, 8), "uint8_t": (1, 8),
    "u16": (2, 16), "uint16_t": (2, 16),
    "bitfield": (1, 1),
}


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's input."""

    catalog: str  # "report" (187 columns) or "narrow" (10 columns)
    lines: int
    lines_per_s: float
    period_s: float
    files: int
    gaps: int  # planted silences longer than MAX_GAP_S
    enrich: bool = True  # also write the Solcast CSV and the GPX track


# ---------------------------------------------------------------- catalog


def _unit_scale(units: str) -> float:
    if units == "%":
        return 1 / 255
    if units == "":
        return 1.0
    digits = "".join(ch if ch.isdigit() else " " for ch in units).split()
    return 1 / float(digits[0])


def catalog_layout(raw: dict) -> list[dict]:
    """Topics in output-column order, each with its guard size and fields.

    Follows the reference's ctypes layout: ``_L``/``_H`` pairs fuse into a
    little-endian u16 named without the suffix, consecutive 1-bit
    bitfields share a byte, the size guard sums storage units ignoring that
    packing, and a field's unit is looked up by its fused index."""
    topics = []
    for mod in sorted(raw["modules"], key=lambda m: int(m["signature"])):
        for top in sorted(mod["topics"], key=lambda t: int(t["id"])):
            blist = top["bytes"]
            fields, byte_off, bit_off, unit = [], 0, 0, 1
            for b in blist:
                if not b or b["name"].endswith("_H"):
                    continue
                size, width = _TYPES[b["type"]]
                if bit_off and (size != unit or bit_off + width > unit * 8):
                    byte_off, bit_off = byte_off + unit, 0
                unit = size
                fields.append((b, byte_off, bit_off, width))
                bit_off += width
                if bit_off == size * 8:
                    byte_off, bit_off = byte_off + size, 0
            out = []
            for i, (b, off, bit, width) in enumerate(fields):
                name = b["name"][:-2] if b["name"].endswith("_L") else b["name"]
                ub = blist[i] if i < len(blist) else None
                out.append({
                    "col": f"{mod['name']}__{top['name']}__{name}",
                    "module": mod["name"], "topic": top["name"], "signal": name,
                    "off": off, "bit": bit, "width": width,
                    "scale": _unit_scale(ub["units"] if ub else ""),
                })
            topics.append({
                "sig": int(mod["signature"]), "id": int(top["id"]),
                "size": sum(_TYPES[b["type"]][0] for b, *_ in fields),
                "fields": out,
            })
    return topics


def load_catalog(name: str) -> dict:
    """The repository's own catalogs: the reference-shaped 187-column one of
    ``scripts/e2e_report_scale.py`` and ``bench.py``'s 10-column one."""
    import sys

    argv = sys.argv
    sys.argv = argv[:1]  # both modules read sys.argv at import
    try:
        if name == "report":
            from scripts.e2e_report_scale import build_catalog

            return build_catalog()
        if name == "narrow":
            from bench import BENCH_CATALOG

            return BENCH_CATALOG
    finally:
        sys.argv = argv
    raise ValueError(f"unknown catalog {name!r}")


def decode(topic: dict, payload: np.ndarray) -> dict[str, np.ndarray]:
    """Per-field float64 values of an (n, size) uint8 payload matrix."""
    out = {}
    for f in topic["fields"]:
        lo = payload[:, f["off"]].astype(np.int64)
        if f["width"] == 16:
            raw = lo + payload[:, f["off"] + 1].astype(np.int64) * 256
        elif f["width"] == 8:
            raw = lo
        else:
            raw = (lo >> f["bit"]) & 1
        out[f["col"]] = raw.astype(np.float64) * f["scale"]
    return out


# ---------------------------------------------------------------- candump


def _engine_us(sec: np.ndarray, frac: np.ndarray) -> np.ndarray:
    """The instant the engine reads from the text ``sec.frac``: the string
    is parsed to a double and truncated to µs (``timestamp_seconds``), so a
    value like ``x.100000`` can land one µs early, in the previous bucket."""
    d = np.array([float(f"{s}.{u:06d}") for s, u in zip(sec, frac)])
    return (d * 1_000_000.0).astype(np.int64)


def make_frames(spec: Spec, topics: list[dict], rng: np.random.Generator) -> dict:
    """Per-line timestamps, kinds, topics and payload bytes."""
    n = spec.lines
    mean_us = 1_000_000.0 / spec.lines_per_s
    step = rng.uniform(0.5, 1.5, n) * mean_us
    kind = rng.choice(
        5, size=n,
        p=[1 - P_GARBAGE - P_UNKNOWN - P_SIZE - P_DUP,
           P_GARBAGE, P_UNKNOWN, P_SIZE, P_DUP],
    )
    if kind[0] == 4:  # a duplicate needs a predecessor
        kind[0] = 0
    step[kind == 4] = 0.0
    # silences of 1.5x the gap-fill bound at random places in the middle;
    # their length is fixed so every seed yields the same grid size
    at = rng.choice(np.arange(n // 10, n - n // 10), spec.gaps, replace=False)
    step[at] += GAP_FACTOR * MAX_GAP_S * 1e6
    start_us = (BASE_EPOCH + int(rng.integers(0, 3600))) * 1_000_000
    us = start_us + np.cumsum(step.astype(np.int64))
    t = rng.integers(0, len(topics), n)
    size = np.array([tp["size"] for tp in topics])[t]
    body = rng.integers(0, 256, (n, 9), dtype=np.uint8)
    body[:, 0] = np.array([tp["sig"] for tp in topics], dtype=np.uint8)[t]
    body[kind == 2, 0] = UNKNOWN_SIG
    length = size + (kind == 3)
    return {"us": us, "kind": kind, "topic": t, "len": length, "body": body}


def _line(sec: int, frac: int, kind: int, topic_id: int, payload: bytes) -> str:
    ts = f"({sec}.{frac:06d})"
    if kind == 1:  # garbage: alternately no frame at all and an odd-hex frame
        return ("garbage line with no frame at all ###" if sec % 2
                else f"{ts} can0 301#fa9f0")
    return f"{ts} can0 {topic_id:03x}#{payload.hex()}"


def write_candump(spec: Spec, topics: list[dict], fr: dict, root: str) -> list[str]:
    """Time-ordered lines split into ``spec.files`` contiguous files."""
    os.makedirs(root, exist_ok=True)
    sec, frac = np.divmod(fr["us"], 1_000_000)
    ids = [tp["id"] for tp in topics]
    lines = [
        _line(int(s), int(f), int(k), ids[t], fr["body"][i, :ln].tobytes())
        for i, (s, f, k, t, ln) in enumerate(
            zip(sec, frac, fr["kind"], fr["topic"], fr["len"])
        )
    ]
    paths = []
    for i, chunk in enumerate(np.array_split(np.arange(len(lines)), spec.files)):
        p = os.path.join(root, f"candump_{i:03d}.log")
        with open(p, "w") as f:
            f.write("\n".join(lines[j] for j in chunk) + "\n")
        paths.append(p)
    return paths


# ------------------------------------------------------------ enrichment


def write_solcast(path: str, lo_s: int, hi_s: int, rng: np.random.Generator) -> dict:
    """Solcast-shaped 5-min CSV covering ``[lo_s, hi_s]`` with margin."""
    first = (lo_s // 300 - 6) * 300
    n = (hi_s - first) // 300 + 8
    ts = first + 300 * np.arange(n)
    ghi = np.round(rng.uniform(300, 900, n), 1)
    dni = np.round(ghi * rng.uniform(0.6, 0.9, n), 1)
    dhi = np.round(ghi * rng.uniform(0.1, 0.3, n), 1)
    iso = lambda s: dt.datetime.fromtimestamp(int(s), dt.timezone.utc).strftime(  # noqa: E731
        "%Y-%m-%dT%H:%M:%SZ")
    with open(path, "w") as f:
        f.write("PeriodStart,PeriodEnd,Period,Dni,Ghi,Dhi,AlbedoDaily\n")
        for i in range(n):
            f.write(f"{iso(ts[i])},{iso(ts[i] + 300)},PT5M,"
                    f"{dni[i]:.1f},{ghi[i]:.1f},{dhi[i]:.1f},0.9\n")
    return {"ts_s": ts, "ghi": ghi, "dni": dni, "dhi": dhi}


def write_gpx(path: str, lo_s: int, hi_s: int, rng: np.random.Generator) -> dict:
    """1 Hz track over ``[lo_s - 30, hi_s + 30]`` at whole seconds."""
    ts = np.arange(lo_s - 30, hi_s + 31)
    n = len(ts)
    lat = np.round(SITE[0] + np.cumsum(rng.normal(0, 2e-5, n)), 7)
    lon = np.round(SITE[1] + np.cumsum(rng.normal(0, 2e-5, n)), 7)
    ele = np.round(rng.uniform(0, 5, n), 2)
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n'
                '<gpx version="1.1" creator="perfbench" '
                'xmlns="http://www.topografix.com/GPX/1/1"><trk><trkseg>\n')
        for i in range(n):
            t = dt.datetime.fromtimestamp(int(ts[i]), dt.timezone.utc)
            f.write(f'<trkpt lat="{lat[i]:.7f}" lon="{lon[i]:.7f}">'
                    f"<ele>{ele[i]:.2f}</ele>"
                    f"<time>{t.strftime('%Y-%m-%dT%H:%M:%SZ')}</time></trkpt>\n")
        f.write("</trkseg></trk></gpx>\n")
    return {"ts_s": ts, "latitude": lat, "longitude": lon, "altitude": ele}


# ----------------------------------------------------------- expectations


def _group_mean(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    uk, inv = np.unique(keys, return_inverse=True)
    s = np.bincount(inv, weights=vals, minlength=len(uk))
    c = np.bincount(inv, minlength=len(uk))
    return uk, s / c


def interpolate_inside(ts: np.ndarray, v: np.ndarray,
                       limit: int | None) -> np.ndarray:
    """pandas ``interpolate(method="time", limit_area="inside")`` on a dense
    grid: the first ``limit`` nulls of each interior gap get the time-linear
    blend of their valid neighbours."""
    n = len(v)
    ok = ~np.isnan(v)
    idx = np.arange(n)
    prev = np.maximum.accumulate(np.where(ok, idx, -1))
    nxt = np.minimum.accumulate(np.where(ok, idx, n)[::-1])[::-1]
    out = v.copy()
    pos = idx - prev
    fill = ~ok & (prev >= 0) & (nxt < n)
    if limit is not None:
        fill &= pos <= limit
    p, q = prev[fill], nxt[fill]
    pv, qv = v[p], v[q]
    frac = (ts[fill] - ts[p]) / (ts[q] - ts[p])
    out[fill] = pv + (qv - pv) * frac
    return out


def _stat(v: np.ndarray) -> list:
    ok = ~np.isnan(v)
    return [int(ok.sum()), float(v[ok].sum())]


def expectations(spec: Spec, topics: list[dict], fr: dict,
                 solcast: dict | None, gpx: dict | None) -> dict:
    """Row counts and per-column (non-null count, sum) of every output."""
    kind = fr["kind"]
    matched = kind != 1
    valid = (kind == 0) | (kind == 4)
    eng_us = _engine_us(*np.divmod(fr["us"], 1_000_000))
    # P4 crop: between the first and last matched frame in file order
    m_us = eng_us[matched]
    keep = valid & (eng_us >= m_us[0]) & (eng_us <= m_us[-1])

    # decode, then the wide table's same-µs mean (values narrowed to float32)
    per_col: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    long_sum: dict[str, float] = {}
    signal_rows = 0
    for ti, tp in enumerate(topics):
        sel = keep & (fr["topic"] == ti)
        vals = decode(tp, fr["body"][sel])
        signal_rows += int(sel.sum()) * len(tp["fields"])
        for f in tp["fields"]:
            col = f["col"]
            ts_u, mean = _group_mean(eng_us[sel], vals[col])
            per_col[col] = (ts_u, mean.astype(np.float32).astype(np.float64))
            long_sum[f"{f['module']}|{f['topic']}|{f['signal']}"] = float(
                vals[col].sum())
    wide_ts = np.unique(eng_us[keep])
    step = int(round(spec.period_s * 1_000_000))
    b_lo, b_hi = wide_ts[0] // step, wide_ts[-1] // step
    grid = (b_lo + np.arange(b_hi - b_lo + 1)) * step
    limit = max(1, int(MAX_GAP_S / spec.period_s))
    cols = {}
    for col, (ts_u, v) in per_col.items():
        g = np.full(len(grid), np.nan)
        bk, mean = _group_mean(ts_u // step - b_lo, v)
        g[bk] = mean
        cols[col] = _stat(interpolate_inside(grid, g, limit))
    exp = {
        "lines": spec.lines,
        "frames": int(matched.sum()),
        "valid_frames": int(valid.sum()),
        "wide_rows": int(len(wide_ts)),
        "grid_rows": int(len(grid)),
        "grid_lo_us": int(grid[0]),
        "grid_hi_us": int(grid[-1]),
        "signal_rows": signal_rows,
        "signal_sums": long_sum,
        "columns": cols,
        "not_null": {},
    }
    if solcast is not None:
        # forecast samples off the grid are dropped before interpolating
        fts = solcast["ts_s"] * 1_000_000
        on = (fts >= grid[0]) & (fts <= grid[-1])
        for c in ("ghi", "dni", "dhi"):
            v = np.full(len(grid), np.nan)
            if on.any():
                v = np.interp(grid, fts[on], solcast[c][on])
                v[grid < fts[on][0]] = np.nan
            cols[f"solcast_{c}"] = _stat(v)
        n_fc = int((grid >= fts[on][0]).sum()) if on.any() else 0
        exp["not_null"].update(solcast_poa=n_fc, solcast_energy=n_fc)
    if gpx is not None:
        idx = grid // 1_000_000 - gpx["ts_s"][0]
        for c in ("latitude", "longitude", "altitude"):
            cols[f"gps_{c}"] = _stat(gpx[c][idx].astype(np.float64))
        n = len(grid)
        exp["not_null"].update(
            gps_speed=int((idx > 0).sum()), gps_heading=int((idx > 0).sum()),
            gps_distance=n)
    return exp


def generate(spec: Spec, seed: int, root: str) -> dict:
    """Write one workload's inputs under ``root``; return paths and the
    expected outputs (JSON-safe)."""
    rng = np.random.default_rng(seed)
    raw = load_catalog(spec.catalog)
    topics = catalog_layout(raw)
    fr = make_frames(spec, topics, rng)
    os.makedirs(root, exist_ok=True)
    cat_path = os.path.join(root, "can_ids.json")
    with open(cat_path, "w") as f:
        json.dump(raw, f)
    candump = write_candump(spec, topics, fr, os.path.join(root, "candump"))
    solcast = gpx = None
    paths = {"catalog": cat_path, "candump": os.path.dirname(candump[0]),
             "candump_files": candump}
    if spec.enrich:
        lo_s, hi_s = int(fr["us"][0] // 1_000_000), int(fr["us"][-1] // 1_000_000) + 1
        paths["solcast"] = os.path.join(root, "solcast.csv")
        paths["gpx"] = os.path.join(root, "track.gpx")
        solcast = write_solcast(paths["solcast"], lo_s, hi_s, rng)
        gpx = write_gpx(paths["gpx"], lo_s, hi_s, rng)
    return {"paths": paths, "expect": expectations(spec, topics, fr, solcast, gpx)}
