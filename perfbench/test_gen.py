"""Tests of the seeded workload generator (pure Python, no Spark).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import re

import pytest

import gen

EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def _rounds(seed: int, n: int = 6) -> tuple[gen.OddsFeed, list]:
    feed = gen.OddsFeed(seed, gen.Universe.make(seed))
    return feed, [feed.next_round() for _ in range(n)]


def _corpus(seed: int, n: int = 4) -> list[list[gen.Doc]]:
    feed = gen.CorpusFeed(seed)
    return [feed.next_batch() for _ in range(n)]


def test_same_seed_same_bytes():
    assert _rounds(3)[1] == _rounds(3)[1]
    uni = gen.Universe.make(3)
    assert gen.name_batches(3, uni, 5, 40) == gen.name_batches(3, gen.Universe.make(3), 5, 40)
    assert _corpus(3) == _corpus(3)


def test_different_seeds_differ():
    assert _rounds(3)[1] != _rounds(4)[1]
    assert gen.name_batches(3, gen.Universe.make(3), 3, 40) != gen.name_batches(
        4, gen.Universe.make(4), 3, 40)
    assert [d.text for d in _corpus(3)[0]] != [d.text for d in _corpus(4)[0]]


def test_rounds_reach_a_steady_size():
    feed = gen.OddsFeed(7, gen.Universe.make(7), new_per_round=4, recollect=12)
    assert [len(feed.next_round()[1]) for _ in range(7)] == [4, 8, 12, 16, 16, 16, 16]


def test_silver_counts_match_documents():
    feed, rounds = _rounds(5)
    docs = [json.loads(body) for _, batch in rounds for _, body in batch]
    teams, fixtures, players = set(), set(), set()
    odds = h2h = lineups = 0
    for d in docs:
        g = d["game_info"]
        teams |= {g["home_team_id"], g["away_team_id"]}
        fixtures.add(d["fixture_id"])
        payload = next(v for k, v in d["data"].items() if k.startswith("odds_"))
        odds += sum(len(b["markets"]) for b in payload["bookmakers"])
        h2h += len(d["data"]["head_to_head"]["response"])
        for lu in d["data"].get("lineups", {}).get("response", []):
            ps = lu["startXI"] + lu["substitutes"]
            lineups += len(ps)
            players |= {p["player"]["id"] for p in ps}
    want = feed.counts[-1]
    assert want["teams"] == len(teams)
    assert want["fixtures"] == len(fixtures)
    assert want["players"] == len(players)
    assert want["odds_history"] == odds
    assert want["team_statistics"] == 2 * len(docs)
    assert want["head_to_head"] == h2h
    assert want["lineups"] == lineups
    assert want["leagues"] == len({d["game_info"]["league_id"] for d in docs})


def test_alerts_are_the_lag_of_the_documents():
    feed, rounds = _rounds(6, n=8)
    last: dict = {}
    want = set()
    for _, batch in rounds:
        for _, body in batch:
            d = json.loads(body)
            payload = next(v for k, v in d["data"].items() if k.startswith("odds_"))
            for b in payload["bookmakers"]:
                for m in b["markets"]:
                    price = m["outcomes"][0]["price"]  # home for h2h/spreads, over for totals
                    key = (d["fixture_id"], f"{b['title']}|{m['key']}")
                    prev = last.get(key)
                    if prev is not None and abs((price - prev) / prev) > 0.10:
                        ts = gen._naive(gen.datetime.strptime(
                            d["collected_at"], "%Y-%m-%dT%H:%M:%SZ"))
                        want.add(key + (ts, price, prev))
                    last[key] = price
    got = {a for _, a in feed.alerts}
    assert got == want and want
    # each round's events are its documents' series values, one per market
    for k, (_, batch) in enumerate(rounds):
        docs = [json.loads(body) for _, body in batch]
        want_ev = sorted(
            (d["fixture_id"], f"{b['title']}|{m['key']}", m["outcomes"][0]["price"])
            for d in docs
            for b in next(v for n, v in d["data"].items() if n.startswith("odds_"))["bookmakers"]
            for m in b["markets"])
        events = feed.events_of(k)
        assert sorted((e["user_id"], e["event_type"], e["value"]) for e in events) == want_ev
        assert len({e["event_id"] for e in events}) == len(events)
    # no move sits near the threshold, so rounding cannot flip an alert
    for _, (_, _, _, v, p) in feed.alerts:
        assert abs((v - p) / p) > 0.12


def test_read_answers_follow_the_drained_rounds():
    feed, _ = _rounds(7, n=6)
    lg = feed.uni.leagues[0]
    games = [(t, n) for t, n in feed.expect_league(lg.id, 6)]
    n_fixtures = sum(1 for f in feed.fixtures.values() if f.league_id == lg.id)
    assert sum(n for _, n in games) == 2 * n_fixtures
    # answers as of fewer rounds see fewer fixtures and odds rows
    assert sum(n for _, n in feed.expect_league(lg.id, 1)) <= sum(n for _, n in games)
    team = next(iter(feed.fixtures.values())).home
    for upto in range(1, 7):
        rows = feed.expect_odds(team, upto)
        assert len(rows) <= 3
        assert all(r[2] < gen._naive(feed.now(upto)) for r in rows)


def test_name_truth_is_consistent():
    uni = gen.Universe.make(8)
    by_name = {t.name: t for t in uni.teams.values()}
    batches = gen.name_batches(8, uni, 6, 50)
    seen = set()
    for i, batch in enumerate(batches):
        names = [r[0] for r in batch]
        assert len(names) == len(set(names)) == 50
        kinds = {r[3] for r in batch}
        assert kinds <= set(gen.NOISE_KINDS)
        for name, league, truth, kind in batch:
            assert by_name[truth].league_id == league
            if kind == "exact":
                assert name == truth
            else:
                assert name != truth or kind == "accent"
        if i:
            assert any(r[0] in seen for r in batch)  # recurrences feed learned mappings
        seen |= set(names)


@pytest.mark.parametrize("seed", [1, 2])
def test_corpus_truth_is_consistent(seed):
    docs = [d for b in _corpus(seed) for d in b]
    by_id = {d.doc_id: d for d in docs}
    assert len(by_id) == len(docs)
    for d in docs:
        assert gen.quality_keep(d.text) != d.low_quality
        if d.dup:
            src = by_id[d.of]
            assert src.doc_id < d.doc_id and not src.dup and not src.low_quality
            if d.dup == "exact":
                assert d.text == src.text
            else:
                diff = set(d.text.split()) ^ set(src.text.split())
                assert 0 < len(diff) <= 2
        if d.pii:
            assert re.search(EMAIL_RE, d.text) or re.search(PHONE_RE, d.text)
    texts = [d.text for d in docs if not d.dup]
    assert len(texts) == len(set(texts))  # only planted copies repeat
    assert any(d.dup == "exact" for d in docs) and any(d.dup == "near" for d in docs)


def test_quality_weight_matches_the_engine_formula():
    # operators.quality: (conv(substr(md5('qw:' || w), 1, 8), 16, 10) % 2001 - 1000) / 1000
    import hashlib

    h = int(hashlib.md5(b"qw:football").hexdigest()[:8], 16)
    assert gen.quality_weight("football") == (h % 2001 - 1000) / 1000
    assert gen.quality_keep("") is False
