"""Checker self-test: the checks pass on correct outputs and fail on
each of four corruptions — one altered value in a query result, one
dropped play row and one swapped batter id in the scrape's SQLite
file, and one changed handedness in a player load. Needs no Spark;
takes a few seconds.

    python3 perfbench/selftest.py      # exit 0 when every case holds
"""

from __future__ import annotations

import os
import sqlite3
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import pages  # noqa: E402
import tables  # noqa: E402

from deep_field_spark.queries import load_registry  # noqa: E402
from deep_field_spark.scraping.sqlite_sink import COLUMNS, create_tables  # noqa: E402


def query_cases(tmp: str) -> list[tuple[str, bool]]:
    """The oracle's own rows must compare equal; the same rows with one
    value altered must not."""
    data = os.path.join(tmp, "data")
    tables.write(data, 0.001, 7)
    con = checks.oracle_utils.duckdb_connect(data)
    sql = load_registry()["q1_pricing_summary"].oracle
    cols, rows = checks.oracle_rows(con, sql)
    altered = [list(r) for r in rows]
    i = next(j for j, v in enumerate(altered[0]) if isinstance(v, float))
    altered[0][i] += 0.01
    return [
        ("query result equal to its oracle passes",
         checks.compare(cols, rows, cols, rows) is None),
        ("query result with one altered value fails",
         checks.compare(cols, [tuple(r) for r in altered], cols, rows) is not None),
    ]


def expected_db(path: str, cache: pages.Cache, templates: dict) -> None:
    """The SQLite file a correct scrape of `cache` writes, built from
    the generator's truth and the twin replay alone."""
    create_tables(path)
    con = sqlite3.connect(path)
    player_id = {nid: i + 1 for i, nid in enumerate(cache.players)}
    venues = {v: i + 1 for i, v in enumerate(sorted({g.home[2] for g in cache.games}))}
    teams = {t: i + 1 for i, t in enumerate(
        sorted({t[:2] for g in cache.games for t in (g.away, g.home)}))}
    rows = {
        "venue": [(i, v) for v, i in venues.items()],
        "team": [(i, n, a) for (n, a), i in teams.items()],
        "player": [(player_id[nid], name, nid, checks.HAND_CODE[b], checks.HAND_CODE[t])
                   for nid, (name, b, t) in cache.players.items()],
        "game": [], "play": [],
    }
    for gid, g in enumerate(cache.games, 1):
        rows["game"].append((
            gid, g.name_id, f"{g.start[0]:02d}:{g.start[1]:02d}", int(g.night),
            int(not g.turf), g.day.isoformat(), venues[g.home[2]],
            teams[g.away[:2]], teams[g.home[:2]]))
        for num, half, outs, bases, desc, pitches, bat, pit in templates[g.template]:
            rows["play"].append((len(rows["play"]) + 1, gid, half, outs, bases, num,
                                 desc, pitches, player_id[bat], player_id[pit]))
    for table, values in rows.items():
        cols = ", ".join(f'"{c}"' for c in COLUMNS[table])
        marks = ", ".join("?" for _ in COLUMNS[table])
        con.executemany(f"INSERT INTO {table} ({cols}) VALUES ({marks})", values)
    con.commit()
    con.close()


def scrape_cases(tmp: str) -> list[tuple[str, bool]]:
    cache = pages.build(6, 7)
    templates = checks.template_plays()
    out = []

    def fails(name: str, corrupt) -> bool:
        path = os.path.join(tmp, f"{name}.db")
        expected_db(path, cache, templates)
        con = sqlite3.connect(path)
        if corrupt is not None:
            corrupt(con)
        con.commit()
        con.close()
        bad, _why = checks.check_scrape(path, cache, templates)
        return bool(bad)

    def drop_play(con):
        con.execute("DELETE FROM play WHERE id = (SELECT max(id) FROM play)")

    def swap_batter(con):
        pid, bat = con.execute("SELECT id, batter_id FROM play WHERE id = 1").fetchone()
        other = con.execute("SELECT min(id) FROM player WHERE id <> ?", (bat,)).fetchone()[0]
        con.execute("UPDATE play SET batter_id = ? WHERE id = ?", (other, pid))

    def flip_bats(con):
        con.execute("UPDATE player SET bats = (bats + 1) % 3 WHERE id = 1")

    out.append(("SQLite file built from the truth passes", not fails("good", None)))
    out.append(("one dropped play row fails", fails("dropped", drop_play)))
    out.append(("one swapped batter id fails", fails("swapped", swap_batter)))
    good, flipped = (os.path.join(tmp, f"{n}.db") for n in ("good", "flipped"))
    expected_db(flipped, cache, templates)
    con = sqlite3.connect(flipped)
    flip_bats(con)
    con.commit()
    con.close()
    out.append(("player load built from the truth passes",
                checks.check_players(good, cache) is None))
    out.append(("player load with one changed handedness fails",
                checks.check_players(flipped, cache) is not None))
    return out


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        cases = query_cases(tmp) + scrape_cases(tmp)
    for name, ok in cases:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(ok for _name, ok in cases) else 1


if __name__ == "__main__":
    sys.exit(main())
