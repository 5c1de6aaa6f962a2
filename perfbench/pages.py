"""Seeded bbref-shaped page cache for `scrape_etl` and for the player
load of `curation_ml`.

Renders one schedule page, `n_games` game pages and one player page
per roster id into the folder layout `scraping.cache.read_cache` scans
(`<root>/<PageType>/<name_id>.shtml`). Each game page clones one of
the three parsed fixture games in `queries/scrape_twin_data.py`
(rosters and play rows verbatim) under a seeded home/away pair, date,
start time, day or night and surface; each player gets a seeded
handedness. `Cache` keeps the generator's truth for the checks.

`self_check` parses every rendered page with `scraping.parse` and
requires exactly the literals and values that were rendered.
"""

from __future__ import annotations

import html
import itertools
import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

from deep_field_spark.queries.scrape_twin_data import GAMES, PLAYS, ROSTERS
from deep_field_spark.scraping import parse

# (team name, abbreviation, home venue)
TEAMS = [
    ("Arizona Diamondbacks", "ARI", "Chase Field"),
    ("Atlanta Braves", "ATL", "Turner Field"),
    ("Baltimore Orioles", "BAL", "Oriole Park at Camden Yards"),
    ("Boston Red Sox", "BOS", "Fenway Park"),
    ("Chicago Cubs", "CHC", "Wrigley Field"),
    ("Chicago White Sox", "CHW", "Comiskey Park"),
    ("Cincinnati Reds", "CIN", "Riverfront Stadium"),
    ("Cleveland Indians", "CLE", "Jacobs Field"),
    ("Colorado Rockies", "COL", "Coors Field"),
    ("Detroit Tigers", "DET", "Tiger Stadium"),
    ("Houston Astros", "HOU", "Astrodome"),
    ("Kansas City Royals", "KCR", "Kauffman Stadium"),
    ("Los Angeles Dodgers", "LAD", "Dodger Stadium"),
    ("Milwaukee Brewers", "MIL", "County Stadium"),
    ("Minnesota Twins", "MIN", "Metrodome"),
    ("New York Mets", "NYM", "Shea Stadium"),
    ("New York Yankees", "NYY", "Yankee Stadium"),
    ("Oakland Athletics", "OAK", "Oakland Coliseum"),
    ("Philadelphia Phillies", "PHI", "Veterans Stadium"),
    ("Pittsburgh Pirates", "PIT", "Three Rivers Stadium"),
    ("San Diego Padres", "SDP", "Jack Murphy Stadium"),
    ("San Francisco Giants", "SFG", "Candlestick Park"),
    ("Seattle Mariners", "SEA", "Kingdome"),
    ("St. Louis Cardinals", "STL", "Busch Stadium"),
    ("Texas Rangers", "TEX", "Arlington Stadium"),
    ("Toronto Blue Jays", "TOR", "SkyDome"),
    ("Washington Nationals", "WSN", "Nationals Park"),
]

HANDS = ("Left", "Right", "Both")  # encoded LEFT=0, RIGHT=1, BOTH=2


@dataclass
class Game:
    name_id: str
    template: str
    day: date
    start: tuple[int, int]  # local 24h (hour, minute)
    night: bool
    turf: bool
    away: tuple[str, str, str]
    home: tuple[str, str, str]

    def meta(self) -> dict[str, str]:
        """The raw strings `parse.parse_game` must return for the page."""
        hour, minute = self.start
        h12 = hour - 12 if hour > 12 else hour
        ampm = "p.m." if hour >= 12 else "a.m."
        return {
            "date_text": f"{self.day:%A}, {self.day:%B} {self.day.day}, {self.day.year}",
            "time_text": f"{h12}:{minute:02d} {ampm} Local",
            "venue": self.home[2],
            "tod_text": "Night" if self.night else "Day",
            "field_text": "turf" if self.turf else "grass",
            "away_team_name": self.away[0],
            "away_team_abbr": self.away[1],
            "home_team_name": self.home[0],
            "home_team_abbr": self.home[1],
        }


@dataclass
class Cache:
    year: int
    games: list[Game] = field(default_factory=list)
    # name_id -> (name, bats_text, throws_text)
    players: dict[str, tuple[str, str, str]] = field(default_factory=dict)

    @property
    def schedule_name_id(self) -> str:
        return f"{self.year}-schedule"


def rosters_of(template: str) -> list[dict]:
    return [
        {"side": s, "pos": p, "name_raw": nr, "name_id": ni}
        for g, s, p, nr, ni in ROSTERS if g == template
    ]


def plays_of(template: str) -> list[dict]:
    return [
        {"play_num": n, "inning": inn, "outs": outs, "pitches": pit, "desc": d,
         "runners": run, "batter": b, "pitcher": pi}
        for g, n, inn, outs, pit, d, run, b, pi in PLAYS if g == template
    ]


def build(n_games: int, seed: int) -> Cache:
    """The seeded make-up of a cache: games and players, no HTML yet."""
    rng = random.Random(seed)
    cache = Cache(year=rng.randint(1990, 2019))
    opening = date(cache.year, 4, 1)
    taken: set[str] = set()
    while len(cache.games) < n_games:
        away, home = rng.sample(TEAMS, 2)
        day = opening + timedelta(days=rng.randrange(180))
        name_id = f"{home[1]}{day:%Y%m%d}0"
        if name_id in taken:
            continue
        taken.add(name_id)
        night = rng.random() < 0.6
        start = (rng.randint(18, 20), rng.choice((5, 10, 35, 40))) if night \
            else (rng.randint(12, 16), rng.choice((5, 10, 20, 35)))
        cache.games.append(Game(
            name_id=name_id, template=rng.choice(GAMES), day=day, start=start,
            night=night, turf=rng.random() < 0.3, away=away, home=home,
        ))
    for _g, _s, _p, name_raw, name_id in ROSTERS:
        if name_id not in cache.players:
            bats = rng.choices(HANDS, weights=(3, 6, 1))[0]
            throws = rng.choices(HANDS[:2], weights=(3, 7))[0]
            cache.players[name_id] = (name_raw, bats, throws)
    return cache


# ------------------------------------------------------------- render

def _e(s: str) -> str:
    return html.escape(s, quote=True)


def _page(title: str, canonical: str, body: str) -> str:
    return (
        "<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>{_e(title)}</title>"
        f"<link rel=\"canonical\" href=\"{_e(canonical)}\"></head>\n"
        f"<body><div id=\"wrap\">\n{body}\n</div></body></html>\n"
    )


def _hidden(table_id: str, inner: str) -> str:
    """A table shipped inside a comment after a placeholder div, the
    way the site defers its big tables."""
    return (
        f"<div class=\"table_container\" id=\"div_{table_id}\">"
        "<div class=\"placeholder\"></div>\n<!--\n"
        f"<table class=\"stats_table\" id=\"{table_id}\"><tbody>\n{inner}</tbody></table>\n"
        "-->\n</div>\n"
    )


def _player_href(name_id: str) -> str:
    return f"/players/{name_id[0]}/{name_id}.shtml"


def render_game(g: Game) -> str:
    meta = g.meta()
    rosters = rosters_of(g.template)
    tables = []
    for side, team in (("away", g.away), ("home", g.home)):
        rows = "".join(
            "<tr><th scope=\"row\" class=\"left\" "
            f"data-append-csv=\"{_e(r['name_id'])}\" data-stat=\"player\">"
            f"<a href=\"{_e(_player_href(r['name_id']))}\">{_e(r['name_raw'])}</a>"
            "</th><td class=\"right\" data-stat=\"AB\">4</td></tr>\n"
            for r in rosters if r["side"] == side
        )
        tables.append(_hidden(f"{team[1]}batting", rows))
    cells = ("inning", "outs", "runners_on_bases_pbp", "pitches_pbp", "batter",
             "pitcher", "play_desc")
    keys = ("inning", "outs", "runners", "pitches", "batter", "pitcher", "desc")
    rows = "".join(
        f"<tr id=\"event_{p['play_num']}\">"
        + "".join(f"<td data-stat=\"{c}\">{_e(p[k])}</td>" for c, k in zip(cells, keys))
        + "</tr>\n"
        for p in plays_of(g.template)
    )
    tables.append(_hidden("play_by_play", rows))
    teams = "".join(
        f"<div><div><strong><a href=\"/teams/{t[1]}/{g.day.year}.shtml\">{_e(t[0])}</a>"
        "</strong></div><div class=\"score\">0</div></div>\n"
        for t in (g.away, g.home)
    )
    box = (
        f"<div class=\"scorebox\">\n{teams}<div class=\"scorebox_meta\">"
        f"<div>{_e(meta['date_text'])}</div>"
        f"<div>Start Time: {_e(meta['time_text'])}</div>"
        f"<div>Venue: {_e(meta['venue'])}</div>"
        f"<div>{meta['tod_text']} Game, on {meta['field_text']}</div>"
        "</div></div>\n"
    )
    return _page(
        f"{g.away[0]} vs {g.home[0]} Box Score",
        f"{parse.BASE_URL}/boxes/{g.home[1]}/{g.name_id}.shtml",
        box + "".join(tables),
    )


def render_player(name_id: str, player: tuple[str, str, str]) -> str:
    name, bats, throws = player
    body = (
        "<div id=\"info\" class=\"players\"><div id=\"meta\">"
        f"<h1><span>{_e(name)}</span></h1>"
        "<p><strong>Position:</strong> Player</p>"
        f"<p><strong>Bats: </strong>{bats} &bull; <strong>Throws: </strong>{throws}</p>"
        "</div></div>"
    )
    return _page(f"{name} Stats", parse.BASE_URL + _player_href(name_id), body)


def schedule_order(cache: Cache) -> list[Game]:
    """Games in the order the schedule page lists them: by date."""
    return sorted(cache.games, key=lambda g: g.day)


def render_schedule(cache: Cache) -> str:
    body = []
    for d, games in itertools.groupby(schedule_order(cache), key=lambda g: g.day):
        body.append(f"<div><h3>{d:%A}, {d:%B} {d.day}, {d.year}</h3>")
        body.extend(
            f"<p class=\"game\"><a href=\"/teams/{g.away[1]}/{d.year}.shtml\">"
            f"{_e(g.away[0])}</a> @ <a href=\"/teams/{g.home[1]}/{d.year}.shtml\">"
            f"{_e(g.home[0])}</a> <em><a href=\"{game_href(g)}\">Boxscore</a></em></p>"
            for g in games
        )
        body.append("</div>")
    return _page(f"{cache.year} MLB Schedule", parse.schedule_url(cache.year),
                 "<div class=\"section_content\">" + "\n".join(body) + "</div>")


def game_href(g: Game) -> str:
    return f"/boxes/{g.home[1]}/{g.name_id}.shtml"


def pages(cache: Cache) -> dict[tuple[str, str], str]:
    """(page_type, name_id) -> html for every page of the cache."""
    out = {("SchedulePage", cache.schedule_name_id): render_schedule(cache)}
    for g in cache.games:
        out[("GamePage", g.name_id)] = render_game(g)
    for name_id, player in cache.players.items():
        out[("PlayerPage", name_id)] = render_player(name_id, player)
    return out


def write(root: str, rendered: dict[tuple[str, str], str]) -> None:
    for (page_type, name_id), text in rendered.items():
        os.makedirs(os.path.join(root, page_type), exist_ok=True)
        with open(os.path.join(root, page_type, f"{name_id}.shtml"), "w",
                  encoding="utf-8") as f:
            f.write(text)


def self_check(cache: Cache, rendered: dict[tuple[str, str], str]) -> None:
    """Round trip: every page through `scraping.parse` gives back
    exactly what was rendered. Raises ValueError on the first miss."""
    by_id = {g.name_id: g for g in cache.games}
    for (page_type, name_id), text in rendered.items():
        if page_type == "SchedulePage":
            got = parse.parse_schedule(text)
            want = [parse.BASE_URL + game_href(g) for g in schedule_order(cache)]
        elif page_type == "GamePage":
            g = by_id[name_id]
            got = parse.parse_game(text)
            want = {"meta": g.meta(), "rosters": rosters_of(g.template),
                    "plays": plays_of(g.template)}
        else:
            name, bats, throws = cache.players[name_id]
            got = parse.parse_player(text)
            want = {"name": name, "bats_text": bats, "throws_text": throws}
        if got != want:
            raise ValueError(f"page round trip differs for {page_type}/{name_id}")
