"""Per-page extraction: HTML → plain dicts of RAW strings.

Runs inside Arrow-batched pandas UDFs (see pipeline.py). Everything
here returns raw text; all typed/encoded transforms (date parse, enum
encode, inning/runner arithmetic, name stripping) happen as Spark
column expressions downstream — the UDF boundary carries the minimum.

Reference parity (semantics re-derived, no code ported):
  canonical-URL identity      bbref_pages.py:26-29   (P2)
  page-type regex dispatch    bbref_pages.py:65-75   (P3)
  schedule-link filter        bbref_pages.py:89-101  (P4)
  commented-table extraction  bbref_pages.py:187-215 (P5)
  player-row predicate        bbref_pages.py:326-353 (P6)
  play-row predicate          bbref_pages.py:547-554 (P7)
  stat projection             bbref_pages.py:600-626 (P8)
  player info/handedness      bbref_pages.py:114-144 (F2)
  scorebox meta extraction    bbref_pages.py:374-511 (F9-F14 raw side)
  missing-play-data error     bbref_pages.py:18-19,197-199 (E1)
"""

from __future__ import annotations

import os
import re
from typing import Any

from .htmldom import Node, parse_html

BASE_URL = "https://www.baseball-reference.com"


def schedule_url(year: int) -> str:
    """Season schedule page URL (F17, scraper.py:37)."""
    return f"{BASE_URL}/leagues/MLB/{year}-schedule.shtml"

_GAME_NAME_ID = re.compile(r"[A-Z0-9]{3}\d{9}")
_PLAYER_NAME_ID = re.compile(r"^[\w\.']+\d\d$")
_CANONICAL = re.compile(r'<link[^>]+rel="canonical"[^>]+href="([^"]+)"')
_HANDEDNESS = re.compile(r"(?:Bats:|Throws:) (\w+)")
# placeholder div followed (whitespace only) by the hidden-table comment
_PLACEHOLDER_COMMENT = re.compile(
    r'<div class="placeholder"></div>\s*<!--(.*?)-->', re.S
)

# data-stat cells extracted from each play row (stat projection P8)
PBP_STATS = frozenset(
    ["inning", "pitches_pbp", "play_desc", "runners_on_bases_pbp", "outs",
     "batter", "pitcher"]
)


class MissingPlayDataError(ValueError):
    """Game page whose play-by-play comment table is absent (E1)."""


def name_id_of(url: str) -> str:
    """Last URL path component minus extension (pages.py:42-44)."""
    return os.path.splitext(url.split("/")[-1])[0]


def page_type_of(url: str) -> str | None:
    """'GamePage' | 'PlayerPage' | 'SchedulePage' | None."""
    name_id = name_id_of(url)
    if _GAME_NAME_ID.fullmatch(name_id):
        return "GamePage"
    if _PLAYER_NAME_ID.match(name_id):
        return "PlayerPage"
    if "schedule" in url:
        return "SchedulePage"
    return None


def canonical_url(html: str) -> str | None:
    """Page identity without a full DOM parse (P2)."""
    m = _CANONICAL.search(html)
    return m.group(1) if m else None


def _nbsp(s: str) -> str:
    return s.replace(" ", " ")


# ------------------------------------------------------------ schedule
def parse_schedule(html: str) -> list[str]:
    """Boxscore URLs from a schedule page; previews / linkless games
    (future games) are skipped."""
    tree = parse_html(html)
    urls: list[str] = []
    for game in tree.find_all("p", {"class": "game"}):
        em = game.find("em")
        a = em.find("a") if em is not None else None
        if a is None:  # no boxscore link yet (future game)
            continue
        url = BASE_URL + a["href"]
        if "/previews/" in url:
            continue
        urls.append(url)
    return urls


# -------------------------------------------------------------- player
def parse_player(html: str) -> dict[str, Any]:
    """name + raw handedness words from a player page."""
    tree = parse_html(html)
    info = tree.find("div", {"id": "info", "class": "players"})
    if info is None:
        raise ValueError("no player info div")
    h1 = info.find("h1")
    if h1 is None:
        raise ValueError("no player name h1")
    name = h1.text.strip()
    # The handedness p is usually the second p, but extra note
    # paragraphs can shift it — scan until one p yields both matches.
    hands: list[str] = []
    for p in info.find_all("p"):
        found = _HANDEDNESS.findall(p.text)
        if len(found) == 2:
            hands = found
            break
    if len(hands) != 2:
        raise ValueError("could not locate Bats:/Throws: paragraph")
    return {"name": name, "bats_text": hands[0], "throws_text": hands[1]}


# ---------------------------------------------------------------- game
def _hidden_tables(html: str) -> list[str]:
    """Comment bodies that follow placeholder divs, in document order
    (the bbref hidden-table trick, P5)."""
    return [m.group(1) for m in _PLACEHOLDER_COMMENT.finditer(html)]


def _roster_rows(table_tree: Node) -> list[dict[str, str]]:
    """Player rows: th cells with data-append-csv and 4-5 attrs (P6)."""
    rows = table_tree.find_all(
        "th",
        attrs={"data-stat": "player", "scope": "row"},
        fn=lambda t: t.has_attr("data-append-csv") and len(t.attrs) in (4, 5),
    )
    out = []
    for row in rows:
        a = row.find("a")
        if a is None:
            continue
        out.append(
            {
                "name_raw": _nbsp(a.text),
                "name_id": name_id_of(a["href"]),
                "suffix": a["href"],
            }
        )
    return out


def _play_rows(table_tree: Node) -> list[dict[str, str]]:
    """tr[id^=event_] rows → the 7 projected data-stat cells (P7/P8)."""
    plays = []
    for tr in table_tree.find_all(
        "tr", fn=lambda t: (t.get("id") or "").startswith("event_")
    ):
        data: dict[str, str] = {}
        for cell in tr.descendants():
            stat = cell.get("data-stat")
            if stat in PBP_STATS:
                data[stat] = _nbsp(cell.text)
        plays.append(data)
    return plays


def _team_info(scorebox: Node) -> list[dict[str, str]]:
    """(name, abbreviation) for away, home — the first two direct div
    children's strong>a (href /teams/<ABBR>/<year>.shtml)."""
    teams = []
    for td in scorebox.find_all("div", recursive=False, limit=2):
        d = td.find("div")
        strong = d.find("strong") if d is not None else None
        a = strong.find("a") if strong is not None else None
        if a is None:
            raise ValueError("scorebox team link missing")
        teams.append({"name": a.text, "abbreviation": a["href"].split("/")[2]})
    return teams


def _meta_texts(meta: Node) -> dict[str, str | None]:
    """Raw texts picked out of scorebox_meta by the same predicates the
    reference uses (first match in document order)."""
    date_text = time_text = tod_field = venue = None
    for tag in meta.descendants():
        text = tag.text
        if not text:
            continue
        words = text.split()
        if date_text is None and words and words[0].endswith("day,"):
            date_text = text
        if time_text is None and "Time: " in text:
            time_text = text.split("Time: ")[-1]
        if tod_field is None and (
            text.lower().startswith("day") or text.lower().startswith("night")
        ):
            tod_field = text
        if venue is None and text.startswith("Venue: "):
            # split(": ")[1], NOT split(": ", 1): a venue containing
            # ": " is truncated at the second colon — exact parity with
            # the reference (bbref_pages.py:419), kept bug-for-bug.
            venue = text.split(": ")[1]
    out: dict[str, str | None] = {
        "date_text": date_text,
        "time_text": time_text,
        "venue": venue,
        "tod_text": None,
        "field_text": None,
    }
    if tod_field is not None:
        out["tod_text"] = tod_field.split()[0]
    # field predicate is independent of tod in the reference (endswith)
    for tag in meta.descendants():
        text = tag.text
        if text.endswith("turf") or text.endswith("grass"):
            out["field_text"] = text.split()[-1]
            break
    return out


def parse_game(html: str) -> dict[str, Any]:
    """Full game-page extraction: meta + away/home rosters + raw plays.

    Roster/play tables live inside HTML comments after placeholder divs
    — the comment bodies are re-parsed as standalone documents (P5).
    """
    hidden = _hidden_tables(html)
    batting = [h for h in hidden if "batting" in h]
    if len(batting) < 2:
        raise MissingPlayDataError("batting tables not found")
    pbp = [h for h in hidden if "play_by_play" in h]
    if not pbp:
        raise MissingPlayDataError("play_by_play table not found")

    rosters = []
    for side, comment in zip(("away", "home"), batting[:2]):
        for pos, row in enumerate(_roster_rows(parse_html(comment))):
            rosters.append(
                {"side": side, "pos": pos,
                 "name_raw": row["name_raw"], "name_id": row["name_id"]}
            )

    plays = []
    for play_num, data in enumerate(_play_rows(parse_html(pbp[0]))):
        plays.append(
            {
                "play_num": play_num,
                "inning": data.get("inning"),
                "outs": data.get("outs"),
                "pitches": data.get("pitches_pbp"),
                "desc": data.get("play_desc"),
                "runners": data.get("runners_on_bases_pbp"),
                "batter": data.get("batter"),
                "pitcher": data.get("pitcher"),
            }
        )

    tree = parse_html(html)
    scorebox = tree.find("div", {"class": "scorebox"})
    if scorebox is None:
        raise ValueError("no scorebox")
    meta_div = scorebox.find("div", {"class": "scorebox_meta"})
    if meta_div is None:
        raise ValueError("no scorebox_meta")
    teams = _team_info(scorebox)
    meta = _meta_texts(meta_div)
    meta.update(
        {
            "away_team_name": teams[0]["name"],
            "away_team_abbr": teams[0]["abbreviation"],
            "home_team_name": teams[1]["name"],
            "home_team_abbr": teams[1]["abbreviation"],
        }
    )
    return {"meta": meta, "rosters": rosters, "plays": plays}
