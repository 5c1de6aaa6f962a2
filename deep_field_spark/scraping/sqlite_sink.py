"""SQLite sink: DDL + batched, transactional writes from the driver.

Reference parity (db/models.py:14-60; bbref_pages.py:367-372,515,531-533):
  S7 DDL             the 5-table star schema, peewee-equivalent types
  S8 batched insert  executemany over the table's rows
  S9 transactions    one transaction per table, through one connection

Scale note: SQLite is the reference-parity sink only — a single-file
database is inherently single-writer, so the rows stream to the driver
(toLocalIterator, one partition at a time) and one connection writes
them. The analytics zone is parquet (write_star_parquet).
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DDL = {
    "venue": """CREATE TABLE IF NOT EXISTS venue (
        id INTEGER PRIMARY KEY,
        name VARCHAR(255) NOT NULL UNIQUE)""",
    "team": """CREATE TABLE IF NOT EXISTS team (
        id INTEGER PRIMARY KEY,
        name VARCHAR(255) NOT NULL,
        abbreviation VARCHAR(3) NOT NULL)""",
    "player": """CREATE TABLE IF NOT EXISTS player (
        id INTEGER PRIMARY KEY,
        name VARCHAR(255) NOT NULL,
        name_id VARCHAR(9) NOT NULL UNIQUE,
        bats SMALLINT NOT NULL,
        throws SMALLINT NOT NULL)""",
    "game": """CREATE TABLE IF NOT EXISTS game (
        id INTEGER PRIMARY KEY,
        name_id VARCHAR(12) NOT NULL UNIQUE,
        local_start_time VARCHAR(5),
        time_of_day SMALLINT,
        field_type SMALLINT,
        date DATE NOT NULL,
        venue_id INTEGER REFERENCES venue (id),
        away_team_id INTEGER NOT NULL REFERENCES team (id),
        home_team_id INTEGER NOT NULL REFERENCES team (id))""",
    "play": """CREATE TABLE IF NOT EXISTS play (
        id INTEGER PRIMARY KEY,
        game_id INTEGER NOT NULL REFERENCES game (id),
        inning_half SMALLINT NOT NULL,
        start_outs SMALLINT NOT NULL,
        start_on_base SMALLINT NOT NULL,
        play_num SMALLINT NOT NULL,
        desc VARCHAR(255) NOT NULL,
        pitch_ct VARCHAR(255),
        batter_id INTEGER NOT NULL REFERENCES player (id),
        pitcher_id INTEGER NOT NULL REFERENCES player (id))""",
}

COLUMNS = {
    "venue": ["id", "name"],
    "team": ["id", "name", "abbreviation"],
    "player": ["id", "name", "name_id", "bats", "throws"],
    "game": ["id", "name_id", "local_start_time", "time_of_day", "field_type",
             "date", "venue_id", "away_team_id", "home_team_id"],
    "play": ["id", "game_id", "inning_half", "start_outs", "start_on_base",
             "play_num", "desc", "pitch_ct", "batter_id", "pitcher_id"],
}


def _connect(db_path: str) -> sqlite3.Connection:
    con = sqlite3.connect(db_path, timeout=60.0)
    con.execute("PRAGMA journal_mode=WAL")
    con.execute("PRAGMA busy_timeout=60000")
    return con


def create_tables(db_path: str) -> None:
    con = _connect(db_path)
    try:
        for ddl in DDL.values():
            con.execute(ddl)
        con.commit()
    finally:
        con.close()


def drop_tables(db_path: str) -> None:
    con = _connect(db_path)
    try:
        for name in DDL:
            con.execute(f"DROP TABLE IF EXISTS {name}")
        con.commit()
    finally:
        con.close()


def write_table(df: DataFrame, db_path: str, table: str) -> None:
    """INSERT OR REPLACE every row of ``df`` into ``table`` in one
    transaction (S9), one executemany (S8). `desc` is a quoted
    identifier (SQL keyword)."""
    cols = COLUMNS[table]
    col_sql = ", ".join(f'"{c}"' for c in cols)
    placeholders = ", ".join("?" for _ in cols)
    sql = f'INSERT OR REPLACE INTO {table} ({col_sql}) VALUES ({placeholders})'
    # Dates → ISO strings for the DBAPI driver.
    out = df
    for c, t in df.dtypes:
        if t == "date":
            out = out.withColumn(c, F.date_format(F.col(c), "yyyy-MM-dd"))
    con = _connect(db_path)
    try:
        with con:
            con.executemany(sql, out.select(*cols).toLocalIterator())
    finally:
        con.close()


def write_star(star: dict[str, DataFrame], db_path: str) -> None:
    """DDL + load all 5 tables (dims first for FK sanity)."""
    create_tables(db_path)
    for table in ("venue", "team", "player", "game", "play"):
        write_table(star[table], db_path, table)


def write_star_parquet(star: dict[str, DataFrame], root: str) -> None:
    """Analytics-zone twin: the same star as parquet tables."""
    for table, df in star.items():
        df.write.mode("overwrite").parquet(f"{root}/{table}.parquet")
