"""Seeded input generators for the benchmark.

Two families, both written with pyarrow so no Spark job is spent on
making inputs:

* ``write_testdata`` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that every ``registry.queries()``
  entry reads (same table names, column names, types and value
  domains as the driver's testdata; row counts scale with ``sf``).
* ``write_night`` — the landed baseball tables that
  ``jobs.run_stage`` reads for one night of the nightly chain
  (``game_records``, ``hitters``, ``pitchers``, ``today_lineup``, the
  ``*_opponents`` / ``*_stadiums`` splits and the ``*_games`` logs).
  Night ``n`` is a function of ``(seed, n)`` only: the season totals
  grow by a per-night delta, every lineup name exists in its master
  with the same team, so every integration join produces rows.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _rng(*key: int) -> np.random.Generator:
    """Independent stream per key tuple (negative keys allowed)."""
    return np.random.default_rng([k % 2**32 for k in key])


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _ts_days(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(out: Path, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


# ---------------------------------------------------------------------------
# ad-hoc surface: the testdata tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def write_testdata(out: Path, sf: float, seed: int) -> dict[str, int]:
    """Write the ten testdata tables for scale ``sf``; return row counts."""
    out.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, 1)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_user = max(10, int(150_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_part, dtype="int64")
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_round2(rng.uniform(1000.0, 500_000.0, n_ord))),
        "o_orderdate": _ts_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_round2(rng.uniform(900.0, 105_000.0, n_line))),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    # events: sorted µs timestamps over January 2024, one key per event
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_evt)) + _days(dt.date(2024, 1, 1)) * 86_400_000_000
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt)),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": pa.array(np.maximum(_round2(rng.exponential(50.0, n_evt)), 0.01)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]),
    })
    # documents: bag-of-words over a 30-word vocabulary; ~5% are
    # near-duplicates (an earlier text plus " dup") for the dedup ops
    texts: list[str] = []
    lens = rng.integers(10, 100, n_doc)
    dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, lens[i])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    # embeddings: unit-norm 64-d float32 with a weak per-label centre
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(size=(10, 64))
    vec = rng.normal(size=(n_vec, 64)) + 0.15 * centres[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_vec,
    }


# ---------------------------------------------------------------------------
# nightly chain: the landed baseball tables
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class League:
    """Size of the synthetic league the nightly chain runs over."""

    teams: int = 60
    hitters_per_team: int = 40
    pitchers_per_team: int = 10
    stadiums: int = 20
    history_games: int = 24  # per-player game logs already landed on night 0
    split_opponents: int = 8  # opponent / stadium split rows per player

    @property
    def n_hitters(self) -> int:
        return self.teams * self.hitters_per_team

    @property
    def n_pitchers(self) -> int:
        return self.teams * self.pitchers_per_team


_SEASON_START = dt.date(2024, 3, 23)
_UTC_US = pa.timestamp("us", tz="UTC")


def night_date(night: int) -> dt.date:
    return _SEASON_START + dt.timedelta(days=night)


def _us(d: dt.date, hour: int = 0) -> int:
    return (_days(d) * 24 + hour) * 3_600_000_000


def _labels(prefix: str, n: int, idx) -> pa.Array:
    """String column ``<prefix><i:03d>`` for integer codes ``idx``."""
    return pa.DictionaryArray.from_arrays(
        pa.array(np.asarray(idx, dtype="int32")),
        pa.array([f"{prefix}{i:03d}" for i in range(n)]),
    ).cast(pa.string())


def _schedule(league: League, seed: int, night: int):
    """Night ``night``'s games: every team plays once; home team's
    stadium is ``team % stadiums``."""
    order = _rng(seed, 100, night).permutation(league.teams)
    home, away = order[0::2], order[1::2]
    return home, away


def _split_stats_hitter(rng, n: int) -> dict[str, pa.Array]:
    ab = rng.integers(5, 60, n)
    hits = rng.binomial(ab, 0.26)
    dbl = rng.binomial(hits, 0.2)
    tpl = rng.binomial(hits - dbl, 0.03)
    hr = rng.binomial(hits - dbl - tpl, 0.12)
    bb = rng.binomial(ab, 0.09)
    hbp = rng.binomial(ab, 0.01)
    so = rng.binomial(ab, 0.2)
    avg = hits / ab
    obp = (hits + bb + hbp) / (ab + bb + hbp)
    slg = (hits + dbl + 2 * tpl + 3 * hr) / ab
    i32 = lambda x: pa.array(x.astype("int32"))  # noqa: E731
    return {
        "ab": i32(ab), "runs": i32(rng.binomial(hits + bb, 0.4)),
        "hits": i32(hits), "doubles": i32(dbl), "triples": i32(tpl),
        "hr": i32(hr), "rbi": i32(rng.binomial(hits, 0.5)),
        "sb": i32(rng.binomial(hits, 0.05)), "cs": i32(rng.binomial(hits, 0.02)),
        "bb": i32(bb), "hbp": i32(hbp), "so": i32(so),
        "gdp": i32(rng.binomial(ab, 0.02)),
        "avg": pa.array(np.round(avg, 3)), "obp": pa.array(np.round(obp, 3)),
        "slg": pa.array(np.round(slg, 3)), "ops": pa.array(np.round(obp + slg, 3)),
    }


def _ip_strings(outs: np.ndarray) -> list[str]:
    out = []
    for o in outs:
        w, f = divmod(int(o), 3)
        out.append(f"{w} {f}/3" if w and f else (f"{f}/3" if f else str(w)))
    return out


def _split_stats_pitcher(rng, n: int) -> dict[str, pa.Array]:
    outs = rng.integers(0, 90, n)
    tbf = outs + rng.integers(0, 40, n)
    hits = rng.binomial(tbf, 0.23)
    er = rng.binomial(hits + 1, 0.45)
    era = np.where(outs > 0, np.round(27.0 * er / np.maximum(outs, 1), 2), np.nan)
    i32 = lambda x: pa.array(x.astype("int32"))  # noqa: E731
    return {
        "era": pa.array([("-" if np.isnan(e) else f"{e:.2f}") for e in era]),
        "tbf": i32(tbf), "ip": pa.array(_ip_strings(outs)), "hits": i32(hits),
        "hr": i32(rng.binomial(hits, 0.1)), "bb": i32(rng.binomial(tbf, 0.08)),
        "hbp": i32(rng.binomial(tbf, 0.01)), "so": i32(rng.binomial(tbf, 0.21)),
        "runs": i32(er + rng.integers(0, 2, n)), "er": i32(er),
        "avg": pa.array(np.round(hits / np.maximum(tbf, 1), 3)),
    }


def _season_hitters(league: League, seed: int, night: int) -> dict[str, pa.Array]:
    """Season-to-date hitter totals after ``night`` nights: the night-0
    base plus one seeded per-night increment for each night played."""
    n = league.n_hitters
    base = _rng(seed, 200)
    games = base.integers(0, 40, n)
    pa_ = games * 4 + base.integers(0, 4, n)
    for k in range(1, night + 1):
        inc = _rng(seed, 201, k).integers(0, 6, n)
        games = games + (inc > 0)
        pa_ = pa_ + inc
    r = _rng(seed, 202, night)
    bb = r.binomial(pa_, 0.09)
    ibb = r.binomial(bb, 0.1)
    hbp = r.binomial(pa_ - bb, 0.01)
    sac = r.binomial(pa_ - bb - hbp, 0.01)
    sf = r.binomial(pa_ - bb - hbp - sac, 0.01)
    ab = pa_ - bb - hbp - sac - sf
    hits = r.binomial(ab, 0.26)
    dbl = r.binomial(hits, 0.2)
    tpl = r.binomial(hits - dbl, 0.03)
    hr = r.binomial(hits - dbl - tpl, 0.12)
    so = r.binomial(ab, 0.2)
    tb = hits + dbl + 2 * tpl + 3 * hr
    with np.errstate(divide="ignore", invalid="ignore"):
        avg = np.where(ab > 0, np.round(hits / ab, 3), np.nan)
        slg = np.where(ab > 0, np.round(tb / ab, 3), np.nan)
        obp_d = ab + bb + hbp + sf
        obp = np.where(obp_d > 0, np.round((hits + bb + hbp) / obp_d, 3), np.nan)
    sb = r.binomial(hits + bb, 0.05)
    cs = r.binomial(sb + 1, 0.25)
    i32 = lambda x: pa.array(np.asarray(x).astype("int32"))  # noqa: E731
    f64 = lambda x: pa.array(x, from_pandas=True)  # noqa: E731  NaN -> NULL
    ids = np.arange(n)
    return {
        "hitter_id": i32(ids),
        "player_name": pa.array([f"Hitter {i:06d}" for i in ids]),
        "team_name": _labels("T", league.teams, ids // league.hitters_per_team),
        "avg": f64(avg), "games": i32(games), "pa": i32(pa_), "ab": i32(ab),
        "runs": i32(r.binomial(hits + bb, 0.4)), "hits": i32(hits),
        "doubles": i32(dbl), "triples": i32(tpl), "hr": i32(hr),
        "total_bases": i32(tb), "rbi": i32(r.binomial(hits, 0.5)),
        "sb": i32(sb), "cs": i32(cs), "sac": i32(sac), "sf": i32(sf),
        "bb": i32(bb), "ibb": i32(ibb), "hbp": i32(hbp), "so": i32(so),
        "gdp": i32(r.binomial(ab, 0.02)), "slg": f64(slg), "obp": f64(obp),
        "ops": f64(np.round(obp + slg, 3)), "mh": i32(r.binomial(games, 0.3)),
        "risp": f64(np.where(r.random(n) < 0.1, np.nan, np.round(r.uniform(0.15, 0.4, n), 3))),
        "ph_ba": f64(np.where(r.random(n) < 0.5, np.nan, np.round(r.uniform(0.1, 0.4, n), 3))),
        "errors": i32(r.integers(0, 10, n)),
        "sb_percentage": f64(np.where(sb + cs > 0, np.round(sb / np.maximum(sb + cs, 1), 3), np.nan)),
        "updated_at": pa.array(np.full(n, _us(night_date(night), 23)), _UTC_US),
    }


def _season_pitchers(league: League, seed: int, night: int) -> dict[str, pa.Array]:
    n = league.n_pitchers
    base = _rng(seed, 300)
    outs = base.integers(0, 150, n)
    for k in range(1, night + 1):
        outs = outs + _rng(seed, 301, k).integers(0, 10, n)
    r = _rng(seed, 302, night)
    tbf = outs + r.integers(0, 60, n)
    hits = r.binomial(tbf, 0.23)
    er = r.binomial(hits + 1, 0.45)
    bb = r.binomial(tbf, 0.08)
    with np.errstate(divide="ignore", invalid="ignore"):
        era = np.where(outs > 0, np.round(27.0 * er / outs, 2), np.nan)
        whip = np.where(outs > 0, np.round(3.0 * (hits + bb) / outs, 2), np.nan)
    wins = r.integers(0, 12, n)
    losses = r.integers(0, 12, n)
    i32 = lambda x: pa.array(np.asarray(x).astype("int32"))  # noqa: E731
    f64 = lambda x: pa.array(x, from_pandas=True)  # noqa: E731
    ids = np.arange(n)
    return {
        "pitcher_id": i32(ids),
        "player_name": pa.array([f"Pitcher {i:06d}" for i in ids]),
        "team_name": _labels("T", league.teams, ids // league.pitchers_per_team),
        "era": pa.array([("-" if np.isnan(e) else f"{e:.2f}") for e in era]),
        "games": i32(r.integers(1, 30, n)), "wins": i32(wins), "losses": i32(losses),
        "sv": i32(r.integers(0, 5, n)), "hld": i32(r.integers(0, 8, n)),
        "wpct": f64(np.where(wins + losses > 0, np.round(wins / np.maximum(wins + losses, 1), 3), np.nan)),
        "ip": pa.array(_ip_strings(outs)), "hits": i32(hits),
        "hr": i32(r.binomial(hits, 0.1)), "bb": i32(bb),
        "hbp": i32(r.binomial(tbf, 0.01)), "so": i32(r.binomial(tbf, 0.21)),
        "runs": i32(er + r.integers(0, 3, n)), "er": i32(er), "whip": f64(whip),
        "cg": i32(r.integers(0, 2, n)), "sho": i32(r.integers(0, 2, n)),
        "qs": i32(r.integers(0, 10, n)), "bsv": i32(r.integers(0, 3, n)),
        "tbf": i32(tbf), "np": i32(tbf * 4), "avg": f64(np.round(hits / np.maximum(tbf, 1), 3)),
        "2b": i32(r.binomial(hits, 0.2)), "3b": i32(r.binomial(hits, 0.02)),
        "sac": i32(r.integers(0, 3, n)), "sf": i32(r.integers(0, 3, n)),
        "ibb": i32(r.integers(0, 3, n)), "wp": i32(r.integers(0, 4, n)),
        "bk": i32(r.integers(0, 2, n)),
        "updated_at": pa.array(np.full(n, _us(night_date(night), 23)), _UTC_US),
    }


def _splits(rng, ids: np.ndarray, id_col: str, key_col: str, prefix: str,
            n_keys: int, per: int, stats) -> dict[str, pa.Array]:
    """``per`` split rows per player over distinct keys (a seeded
    offset walk over the key space)."""
    n = len(ids) * per
    off = rng.integers(0, n_keys, len(ids))
    kidx = (np.repeat(off, per) + np.tile(np.arange(per), len(ids))) % n_keys
    return {
        id_col: pa.array(np.repeat(ids, per).astype("int32")),
        key_col: _labels(prefix, n_keys, kidx),
        **stats(rng, n),
    }


def _game_log(league: League, seed: int, role: str, night: int):
    """Per-player game logs up to ``night``: the ``history_games`` days
    before the season start, then one game day per night. Each day's
    rows depend on (seed, role, day) only, so re-landing the log on a
    later night reproduces every earlier row."""
    per_team = league.hitters_per_team if role == "hitter" else league.pitchers_per_team
    n_players = league.teams * per_team
    stats = _split_stats_hitter if role == "hitter" else _split_stats_pitcher
    parts = []
    for k in range(-league.history_games, night + 1):
        if k == 0:
            continue  # night 0 is the landing before the first game day
        d = night_date(k)
        r = _rng(seed, 400 if role == "hitter" else 401, k)
        # pitchers appear in about every third game, hitters in most
        played = np.flatnonzero(r.random(n_players) < (0.8 if role == "hitter" else 0.3))
        cols = {
            f"{role}_id": pa.array(played.astype("int32")),
            "game_date": pa.array(np.full(len(played), _days(d), dtype="int32"), pa.date32()),
            "opponent_team": _labels("T", league.teams, r.integers(0, league.teams, len(played))),
        }
        if role == "pitcher":
            cols["result"] = _pick(r, ["W", "L", "ND"], len(played))
        cols.update(stats(r, len(played)))
        parts.append(pa.table(cols))
    table = pa.concat_tables(parts).combine_chunks()
    return {c: table.column(c).chunk(0) for c in table.column_names}


def _games_table(league: League, seed: int, night: int) -> dict[str, pa.Array]:
    """Every game played up to ``night`` (history days included)."""
    nights = [k for k in range(-league.history_games, night + 1) if k != 0]
    homes, aways = zip(*(_schedule(league, seed, k) for k in nights))
    g = len(homes[0])
    home, away = np.concatenate(homes), np.concatenate(aways)
    scores = np.concatenate([_rng(seed, 500, k).integers(0, 16, (2, g)) for k in nights], axis=1)
    return {
        "game_date": pa.array(np.repeat([_us(night_date(k), 18) for k in nights], g), _UTC_US),
        "away_team": _labels("T", league.teams, away),
        "away_score": pa.array(scores[0].astype("int32")),
        "home_team": _labels("T", league.teams, home),
        "home_score": pa.array(scores[1].astype("int32")),
        "stadium": _labels("S", league.stadiums, home % league.stadiums),
    }


def _lineup(league: League, seed: int, night: int) -> dict[str, pa.Array]:
    """Today's lineup: per team a starting pitcher (position 0) and nine
    batters, all drawn from that team's roster."""
    home, away = _schedule(league, seed, night)
    r = _rng(seed, 600, night)
    team = np.concatenate([home, away])
    opp = np.concatenate([away, home])
    stadium = np.concatenate([home, home]) % league.stadiums
    sp = team * league.pitchers_per_team + r.integers(0, league.pitchers_per_team, len(team))
    batters = np.stack([
        t * league.hitters_per_team + r.choice(league.hitters_per_team, 9, replace=False)
        for t in team
    ])
    players = [f"Pitcher {p:06d}" for p in sp] + [f"Hitter {b:06d}" for b in batters.ravel()]
    rep = lambda x, k: np.concatenate([x, np.repeat(x, k)])  # noqa: E731
    n = len(players)
    return {
        "game_date": pa.array(np.full(n, _us(night_date(night), 18)), _UTC_US),
        "player": pa.array(players),
        "team": _labels("T", league.teams, rep(team, 9)),
        "position": pa.array(np.concatenate([np.zeros(len(team)), np.tile(np.arange(1, 10), len(team))]).astype("int32")),
        "opponent": _labels("T", league.teams, rep(opp, 9)),
        "stadium": _labels("S", league.stadiums, rep(stadium, 9)),
    }


def write_night(out: Path, league: League, seed: int, night: int) -> dict[str, int]:
    """Land night ``night``'s tables under ``out``; return row counts.

    ``game_records`` and the ``*_games`` logs hold the whole season so
    far (history plus nights 1..night), as the reference's scrapers
    append to them; the masters and splits are that night's
    season-to-date snapshot; ``today_lineup`` is that night's games."""
    out.mkdir(parents=True, exist_ok=True)
    tables = {
        "game_records": _games_table(league, seed, night),
        "hitters": _season_hitters(league, seed, night),
        "pitchers": _season_pitchers(league, seed, night),
        "today_lineup": _lineup(league, seed, night),
        "hitter_games": _game_log(league, seed, "hitter", night),
        "pitcher_games": _game_log(league, seed, "pitcher", night),
    }
    for role, stats, n in (("hitter", _split_stats_hitter, league.n_hitters),
                           ("pitcher", _split_stats_pitcher, league.n_pitchers)):
        ids = np.arange(n)
        tables[f"{role}_opponents"] = _splits(
            _rng(seed, 700, night, n), ids, f"{role}_id", "opponent_team",
            "T", league.teams, league.split_opponents, stats)
        tables[f"{role}_stadiums"] = _splits(
            _rng(seed, 701, night, n), ids, f"{role}_id", "stadium",
            "S", league.stadiums, league.split_opponents, stats)
    counts = {}
    for name, cols in tables.items():
        _write(out, name, cols)
        counts[name] = len(next(iter(cols.values())))
    return counts
