"""Pure-Python unit gates for page dispatch and page identity
(COVERAGE P2/P3): scraping.parse.page_type_of and canonical_url."""

from __future__ import annotations

import pytest

from deep_field_spark.scraping import parse as P


@pytest.mark.parametrize(
    "url, want",
    [
        (f"{P.BASE_URL}/boxes/WAS/WAS201710120.shtml", "GamePage"),
        (f"{P.BASE_URL}/players/j/jayjo02.shtml", "PlayerPage"),
        (P.schedule_url(2017), "SchedulePage"),
        (f"{P.BASE_URL}/about/faq.shtml", None),
    ],
)
def test_page_type_of(url, want):
    assert P.page_type_of(url) == want


def test_canonical_url():
    url = f"{P.BASE_URL}/players/j/jayjo02.shtml"
    page = (
        '<html><head><title>Jon Jay</title>'
        f'<link rel="canonical" href="{url}" /></head><body></body></html>'
    )
    assert P.canonical_url(page) == url
    assert P.canonical_url(page.replace('rel="canonical"', 'rel="icon"')) is None
    assert P.canonical_url("<html><head></head><body></body></html>") is None
