"""Correctness checks, each against a computation made apart from the
program: the registry's DuckDB oracle SQL for query results, and the
page generator's truth plus the DuckDB replay of
`scrape_core_resolved_plays` for the scrape ETL's SQLite file.
"""

from __future__ import annotations

import os
import sqlite3
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))

import oracle_utils  # noqa: E402  (the repo's own oracle normalisation)

HAND_CODE = {"Left": 0, "Right": 1, "Both": 2}


# ------------------------------------------------------------- queries

def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def compare(scols: list[str], srows: list[tuple],
            dcols: list[str], drows: list[tuple]) -> str | None:
    """The order-insensitive compare of tests/oracle_utils.py on rows
    already collected; returns why the two differ, or None."""
    try:
        oracle_utils.driver_canon_check(scols, srows)
    except TypeError as e:
        return f"result not sortable as a frame: {e}"
    if sorted(scols) != sorted(dcols):
        return f"columns differ: spark={scols} duckdb={dcols}"
    if len(srows) != len(drows):
        return f"row counts differ: spark={len(srows)} duckdb={len(drows)}"

    def canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
        order = [cols.index(c) for c in sorted(cols)]
        normed = (tuple(oracle_utils._norm(r[i]) for i in order) for r in rows)
        return sorted(normed, key=oracle_utils._key)

    for i, (a, b) in enumerate(zip(canon(scols, srows), canon(dcols, drows))):
        if a != b:
            return f"row {i} differs: spark={a} duckdb={b}"
    return None


# --------------------------------------------------------------- scrape

def template_plays() -> dict[str, list[tuple]]:
    """Each fixture game's resolved play sequence from DuckDB running
    the `scrape_core_resolved_plays` oracle, ids mapped back to
    name_ids: (play_num, inning_half, outs, bases, desc, pitch_ct,
    batter name_id, pitcher name_id) in play order."""
    from deep_field_spark.queries import load_registry
    from deep_field_spark.queries.scrape_twin_data import PLAYERS

    nid = dict(PLAYERS)
    cols, rows = oracle_rows(duckdb.connect(),
                             load_registry()["scrape_core_resolved_plays"].oracle)
    c = {name: i for i, name in enumerate(cols)}
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r[c["game_name_id"]], []).append((
            r[c["play_num"]], r[c["inning_half"]], r[c["start_outs"]],
            r[c["start_on_base"]], r[c["desc"]], r[c["pitch_ct"]],
            nid.get(r[c["batter_id"]]), nid.get(r[c["pitcher_id"]]),
        ))
    return {g: sorted(v) for g, v in out.items()}


def _wrong_players(con: sqlite3.Connection, cache) -> set[str]:
    """name_ids whose player row is missing or differs from the truth
    (name, and bats/throws under LEFT=0, RIGHT=1, BOTH=2)."""
    players = {r[0]: r[1:] for r in con.execute(
        "SELECT name_id, name, bats, throws FROM player")}
    return {
        nid for nid, (name, bats, throws) in cache.players.items()
        if players.get(nid) != (name, HAND_CODE[bats], HAND_CODE[throws])
    }


def check_players(db_path: str, cache) -> str | None:
    """The `player` table a player-page load writes, against the
    generator's truth; returns why it differs, or None."""
    con = sqlite3.connect(db_path)
    try:
        n = con.execute("SELECT count(*) FROM player").fetchone()[0]
        wrong = _wrong_players(con, cache)
    finally:
        con.close()
    if n != len(cache.players):
        return f"player: {n} rows, want {len(cache.players)}"
    if wrong:
        return f"player rows differ: {sorted(wrong)[:5]}"
    return None


def check_scrape(db_path: str, cache, templates: dict[str, list[tuple]]) -> tuple[set[str], list[str]]:
    """Check the SQLite star against the generator's truth. Returns the
    name_ids of the games that fail and one message per failed check;
    a wrong table-wide count fails every game."""
    games = {g.name_id: g for g in cache.games}
    bad: set[str] = set()
    why: list[str] = []
    con = sqlite3.connect(db_path)
    try:
        want_counts = {
            "venue": len({g.home[2] for g in cache.games}),
            "team": len({t[:2] for g in cache.games for t in (g.away, g.home)}),
            "player": len(cache.players),
            "game": len(cache.games),
            "play": sum(len(templates[g.template]) for g in cache.games),
        }
        for table, want in want_counts.items():
            got = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if got != want:
                why.append(f"{table}: {got} rows, want {want}")
                bad.update(games)

        wrong_players = _wrong_players(con, cache)
        if wrong_players:
            why.append(f"player rows differ: {sorted(wrong_players)[:5]}")

        rows = con.execute(
            "SELECT g.name_id, g.date, g.local_start_time, g.time_of_day, g.field_type,"
            " v.name, ta.name, ta.abbreviation, th.name, th.abbreviation"
            " FROM game g LEFT JOIN venue v ON v.id = g.venue_id"
            " LEFT JOIN team ta ON ta.id = g.away_team_id"
            " LEFT JOIN team th ON th.id = g.home_team_id").fetchall()
        seen = {r[0]: r[1:] for r in rows}
        for nid, g in games.items():
            want = (g.day.isoformat(), f"{g.start[0]:02d}:{g.start[1]:02d}",
                    int(g.night), int(not g.turf), g.home[2],
                    g.away[0], g.away[1], g.home[0], g.home[1])
            if seen.get(nid) != want:
                why.append(f"game {nid}: {seen.get(nid)} want {want}")
                bad.add(nid)

        plays: dict[str, list[tuple]] = {}
        for r in con.execute(
            "SELECT g.name_id, p.play_num, p.inning_half, p.start_outs,"
            " p.start_on_base, p.\"desc\", p.pitch_ct, b.name_id, pi.name_id"
            " FROM play p JOIN game g ON g.id = p.game_id"
            " LEFT JOIN player b ON b.id = p.batter_id"
            " LEFT JOIN player pi ON pi.id = p.pitcher_id"
        ):
            plays.setdefault(r[0], []).append(tuple(r[1:]))
        for nid, g in games.items():
            got = sorted(plays.get(nid, []), key=lambda p: p[0])
            want = templates[g.template]
            roster = {p[6] for p in want} | {p[7] for p in want}
            if got != want:
                why.append(f"game {nid}: play sequence differs from {g.template}")
                bad.add(nid)
            elif roster & wrong_players:
                why.append(f"game {nid}: a player row of its plays is wrong")
                bad.add(nid)
    finally:
        con.close()
    return bad, why
