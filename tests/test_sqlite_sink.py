"""SQLite sink (scraping/sqlite_sink.py) on a small hand-built 5-table
star: row counts, DATE columns stored as ISO strings, and a second
write replacing rows on their ids instead of duplicating them."""

from __future__ import annotations

import datetime
import sqlite3

from deep_field_spark.scraping import sqlite_sink as SS

_SCHEMAS = {
    "venue": "id int, name string",
    "team": "id int, name string, abbreviation string",
    "player": "id int, name string, name_id string, bats int, throws int",
    "game": "id int, name_id string, local_start_time string, "
            "time_of_day int, field_type int, date date, venue_id int, "
            "away_team_id int, home_team_id int",
    "play": "id int, game_id int, inning_half int, start_outs int, "
            "start_on_base int, play_num int, desc string, pitch_ct string, "
            "batter_id int, pitcher_id int",
}


def _star(spark, venue_name: str) -> dict:
    rows = {
        "venue": [(1, venue_name)],
        "team": [(1, "Chicago Cubs", "CHC"), (2, "Washington Nationals", "WSN")],
        "player": [(1, "Jon Jay", "jayjo02", 1, 1),
                   (2, "Gio Gonzalez", "gonzagi01", 2, 2),
                   (3, "Max Scherzer", "scherma01", 2, 2)],
        "game": [(1, "WAS201710120", "20:08", 1, 1,
                  datetime.date(2017, 10, 12), 1, 1, 2)],
        "play": [(1, 1, 0, 0, 0, 0, "Double to RF (Line Drive)", "2,(0-1) CX", 1, 2),
                 (2, 1, 0, 0, 2, 1, "Strikeout Looking", "4,(1-2) CBSC", 1, 3)],
    }
    return {t: spark.createDataFrame(r, _SCHEMAS[t]) for t, r in rows.items()}


def _counts(con) -> dict:
    return {
        t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        for t in SS.COLUMNS
    }


def test_write_star_twice_replaces(spark, tmp_path):
    db = str(tmp_path / "star.db")
    want = {"venue": 1, "team": 2, "player": 3, "game": 1, "play": 2}
    SS.write_star(_star(spark, "Nationals Park"), db)
    con = sqlite3.connect(db)
    try:
        assert _counts(con) == want
        assert con.execute("SELECT date FROM game").fetchone() == ("2017-10-12",)
        assert con.execute(
            'SELECT "desc", pitch_ct FROM play WHERE play_num = 1'
        ).fetchone() == ("Strikeout Looking", "4,(1-2) CBSC")
    finally:
        con.close()

    SS.write_star(_star(spark, "Nationals Park DC"), db)
    con = sqlite3.connect(db)
    try:
        assert _counts(con) == want
        assert con.execute("SELECT name FROM venue").fetchall() == [
            ("Nationals Park DC",)
        ]
    finally:
        con.close()
