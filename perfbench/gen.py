"""Seeded input generator for the benchmark, with ground truth.

Pure Python (no Spark): every input the benchmark feeds the engine is
made here from ``(workload, seed)``, together with the answer the
engine must give. The same seed gives byte-identical inputs.

- ``Universe``: leagues, teams and completed results (shared by all
  football workloads).
- ``OddsFeed``: collection rounds of JSON documents shaped like the
  reference's fan-out (``bookmakers[].markets[].outcomes[]``); most
  fixtures are re-collected with moved prices, a share are new. It
  keeps the state model the ``ingest`` and ``serve`` checks compare
  against: silver row counts, the >10% LAG alert set and the answer of
  every gold read.
- ``name_batches``: odds-side team names with the reference's noise
  kinds and their true fixture team.
- ``CorpusFeed``: document batches with planted exact and near
  duplicates (within a batch and against earlier batches), low-quality
  and PII-bearing documents.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2025, 9, 1, 12, 0, tzinfo=timezone.utc)  # season 2025
CYCLE = timedelta(minutes=30)  # the reference's cron cadence
PHASES = ("early_odds", "pre_match", "team_news", "final_data")
PHASE_KEY = {"early_odds": "early", "pre_match": "pre_match",
             "team_news": "team_news", "final_data": "final_data"}
MARKETS = ("h2h", "spreads", "totals")
ALERT_PCT = 10.0  # streaming.movement's threshold, in percent

_CITIES = (
    "Aberdale Ashford Barnmoor Bellcross Brackwater Brindle Carrow Castlemere "
    "Cinderford Coldharbour Dunmore Eastwick Elmstead Fairhaven Fenwick Foxley "
    "Glenrock Greystone Hallow Harrowgate Highmoor Holloway Ironbridge Kestrel "
    "Kingsmead Larkhill Lindenfield Marlow Meadowbank Millbrook Northgate Oakridge "
    "Pemberton Penrith Queensbury Ravenscar Redhill Rosedale Saltmarsh Seabrook "
    "Silverdale Southport Stanmore Stonebridge Thornbury Torwood Underhill Valemont "
    "Westbury Whitlock Wickham Willowby Windermere Woodhurst Yarrow Zennor Alderney "
    "Belmont Calder Dunholm Ellesmere Falmouth Garston Hartwell Islington Jarrow"
).split()
_SUFFIXES = ("Rovers", "Athletic", "Wanderers", "Albion", "Town", "City", "United",
             "Rangers", "Villa", "County")
_COUNTRIES = ("England", "Scotland", "Wales", "Ireland", "France", "Spain")
_BOOKMAKERS = tuple(f"Book{chr(65 + i // 26)}{chr(65 + i % 26)}" for i in range(36))


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _rng(seed: int, name: str) -> random.Random:
    return random.Random(f"{name}:{seed}")


# --- universe ---------------------------------------------------------------


@dataclass(frozen=True)
class Team:
    id: int
    name: str
    league_id: int


@dataclass(frozen=True)
class League:
    id: int
    name: str
    country: str
    team_ids: tuple[int, ...]


@dataclass
class Universe:
    leagues: list[League]
    teams: dict[int, Team]
    #: completed fixtures: (id, league_id, home_id, away_id, kickoff, hs, as)
    results: list[tuple] = field(default_factory=list)

    @classmethod
    def make(cls, seed: int, n_leagues: int = 6, teams_per_league: int = 10) -> Universe:
        rng = _rng(seed, "universe")
        cities = list(_CITIES)
        rng.shuffle(cities)
        need = n_leagues * teams_per_league
        if need > len(cities):
            raise ValueError(f"at most {len(cities)} teams")
        leagues, teams = [], {}
        for li in range(n_leagues):
            ids = []
            for ti in range(teams_per_league):
                tid = 100 + li * 100 + ti
                city = cities[li * teams_per_league + ti]
                teams[tid] = Team(tid, f"{city} {rng.choice(_SUFFIXES)}", 10 + li)
                ids.append(tid)
            leagues.append(League(10 + li, f"League {chr(65 + li)}",
                                  _COUNTRIES[li % len(_COUNTRIES)], tuple(ids)))
        uni = cls(leagues, teams)
        fid = 900_000
        for lg in leagues:  # one completed round-robin half-season per league
            for k in range(teams_per_league):
                h, a = rng.sample(lg.team_ids, 2)
                ko = EPOCH - timedelta(days=3 * (k + 1), hours=rng.randrange(10))
                uni.results.append((fid, lg.id, h, a, ko, rng.randrange(5), rng.randrange(4)))
                fid += 1
        return uni

    def league_of(self, team_id: int) -> League:
        return next(lg for lg in self.leagues if team_id in lg.team_ids)


# --- odds feed: collection documents + state model --------------------------


def _price(rng: random.Random) -> float:
    return round(rng.uniform(1.3, 6.0), 2)


def _move(rng: random.Random, price: float) -> float:
    """Next snapshot price: 1 in 4 moves by 14-25% (an alert), the
    rest by at most 6% — nothing lands near the 10% threshold, so
    float rounding can never flip an alert."""
    if rng.random() < 0.25:
        pct = rng.uniform(14, 25) * rng.choice((-1, 1))
    else:
        pct = rng.uniform(0.5, 6) * rng.choice((-1, 1))
    new = round(price * (1 + pct / 100), 2)
    return new if new > 1.01 else round(price * 1.2, 2)


@dataclass
class Fixture:
    id: int
    league_id: int
    home: int
    away: int
    kickoff: datetime
    round: int  # the round whose documents created it


class OddsFeed:
    """Collection rounds for the ``ingest`` and ``serve`` workloads.

    ``next_round()`` returns ``(round_ts, docs)`` where each doc is
    ``(file_name, json_bytes)``. Every round re-collects ``recollect``
    existing fixtures with moved prices and adds ``new_per_round`` new
    fixtures, so dims upsert existing keys and grow.

    The state model records the round that produced every fixture,
    odds row, stats snapshot and alert, so each ``expect_*`` answer can
    be taken as of any number of drained rounds (``upto``)."""

    def __init__(self, seed: int, uni: Universe, bookmakers: int = 8,
                 new_per_round: int = 8, recollect: int = 24,
                 lineup_share: float = 0.25):
        self.uni = uni
        self.rng = _rng(seed, "odds")
        self.books = _BOOKMAKERS[:bookmakers]
        self.new_per_round, self.recollect = new_per_round, recollect
        self.lineup_share = lineup_share
        self.fixtures: dict[int, Fixture] = {}
        self.prices: dict[tuple, list[float]] = {}  # (fid, book, market) → outcome prices
        #: silver odds_history model: fid → row dicts (with their round)
        self.odds: dict[int, list[dict]] = {}
        #: team_statistics model: team_id → (round, date, created_at, league_id, stats)
        self.stats: dict[int, list[tuple]] = {}
        #: alert model: series (fid, "book|market") → last value; alerts with their round
        self._last: dict[tuple, float] = {}
        self.alerts: list[tuple[int, tuple]] = []
        #: silver row counts after each round
        self.counts: list[dict[str, int]] = []
        self._count = dict.fromkeys(
            ("teams", "leagues", "fixtures", "players", "odds_history",
             "team_statistics", "head_to_head", "lineups"), 0)
        self._teams: set[int] = set()
        self._leagues: set[int] = set()
        self._players: set[int] = set()
        self._next_fid = 1000
        self.rounds = 0

    # one document ---------------------------------------------------------

    def _outcomes(self, fx: Fixture, market: str, prices: list[float]) -> list[dict]:
        home, away = self.uni.teams[fx.home].name, self.uni.teams[fx.away].name
        if market == "h2h":
            return [{"name": home, "price": prices[0]}, {"name": "Draw", "price": prices[1]},
                    {"name": away, "price": prices[2]}]
        if market == "spreads":
            return [{"name": home, "price": prices[0], "point": -0.5},
                    {"name": away, "price": prices[1], "point": 0.5}]
        return [{"name": "Over", "price": prices[0], "point": 2.5},
                {"name": "Under", "price": prices[1], "point": 2.5}]

    def _doc(self, fx: Fixture, phase: str, ts: datetime, new: bool) -> dict:
        rng, uni = self.rng, self.uni
        home, away = uni.teams[fx.home], uni.teams[fx.away]
        lg = next(lg for lg in uni.leagues if lg.id == fx.league_id)
        books = []
        for book in self.books:
            markets = []
            for market in MARKETS:
                key = (fx.id, book, market)
                if new:
                    self.prices[key] = [_price(rng) for _ in range(3 if market == "h2h" else 2)]
                else:
                    self.prices[key] = [_move(rng, p) for p in self.prices[key]]
                p = self.prices[key]
                markets.append({"key": market, "last_update": _iso(ts),
                                "outcomes": self._outcomes(fx, market, p)})
                self._odds_row(fx, book, market, p, ts, phase)
            books.append({"key": book.lower(), "title": book, "last_update": _iso(ts),
                          "markets": markets})
        data = {f"odds_{PHASE_KEY[phase]}": {
            "id": f"ev{fx.id}", "sport_key": "soccer", "sport_title": lg.name,
            "commence_time": _iso(fx.kickoff), "home_team": home.name,
            "away_team": away.name, "bookmakers": books}}
        data["home_team_stats"] = self._stats_env(home, ts)
        data["away_team_stats"] = self._stats_env(away, ts)
        h2h = [{"fixture": {"id": 500_000 + fx.id * 10 + k,
                            "date": _iso(fx.kickoff - timedelta(days=200 * (k + 1)))},
                "teams": {"home": {"id": home.id, "name": home.name},
                          "away": {"id": away.id, "name": away.name}},
                "goals": {"home": (fx.id + k) % 4, "away": (fx.id * 7 + k) % 3},
                "league": {"id": lg.id}} for k in range(3)]
        data["head_to_head"] = {"get": "fixtures/headtohead", "results": 3,
                                "paging": {"current": 1, "total": 1}, "response": h2h}
        self._count["head_to_head"] += 3
        if rng.random() < self.lineup_share:
            data["lineups"] = self._lineups(fx)
        return {
            "fixture_id": fx.id, "collection_type": phase, "collected_at": _iso(ts),
            "game_info": {"fixture_id": fx.id, "kickoff_utc": _iso(fx.kickoff),
                          "home_team": home.name, "away_team": away.name,
                          "home_team_id": home.id, "away_team_id": away.id,
                          "league": lg.name, "league_id": lg.id, "country": lg.country,
                          "venue": f"{home.name.split()[0]} Park", "priority": "high",
                          "timezone": "UTC"},
            "data": data,
        }

    def _odds_row(self, fx, book, market, p, ts, phase) -> None:
        if market == "h2h":
            home_odds, draw, away_odds, over = p[0], p[1], p[2], None
        elif market == "spreads":
            home_odds, draw, away_odds, over = p[0], None, p[1], None
        else:
            home_odds, draw, away_odds, over = None, None, None, p[0]
        self.odds.setdefault(fx.id, []).append({
            "round": self.rounds, "fixture_id": fx.id, "bookmaker": book,
            "market_type": market, "home_odds": home_odds, "draw_odds": draw,
            "away_odds": away_odds, "over_odds": over, "collected_at": ts,
            "collection_phase": phase})
        self._count["odds_history"] += 1
        # the movement alert model: LAG over each series, >10% moves
        value = home_odds if home_odds is not None else over
        series = (fx.id, f"{book}|{market}")
        prev = self._last.get(series)
        if prev is not None and abs((value - prev) / prev * 100.0) > ALERT_PCT:
            self.alerts.append((self.rounds, (fx.id, series[1], _naive(ts), value, prev)))
        self._last[series] = value

    def _stats_env(self, team: Team, ts: datetime) -> dict:
        played = 4 + self.rounds + team.id % 5
        wins = (team.id + self.rounds) % (played + 1)
        gf, ga = 2 * wins + team.id % 7, played + team.id % 3
        self.stats.setdefault(team.id, []).append(
            (self.rounds, ts.strftime("%Y-%m-%d"), ts, team.league_id, (played, gf, ga)))
        self._count["team_statistics"] += 1
        draws = (played - wins) // 2
        return {"get": "teams/statistics", "results": 1, "paging": {"current": 1, "total": 1},
                "response": {"fixtures": {
                    "played": {"home": played // 2, "away": played - played // 2, "total": played},
                    "wins": {"home": wins // 2, "away": wins - wins // 2, "total": wins},
                    "draws": {"home": 0, "away": draws, "total": draws},
                    "loses": {"home": 0, "away": played - wins - draws,
                              "total": played - wins - draws}},
                    "goals": {"for": {"total": {"home": gf // 2, "away": gf - gf // 2, "total": gf}},
                              "against": {"total": {"home": ga // 2, "away": ga - ga // 2,
                                                    "total": ga}}}}}

    def _lineups(self, fx: Fixture) -> dict:
        resp = []
        for team_id in (fx.home, fx.away):
            xi = [{"player": {"id": team_id * 100 + k, "name": f"P{team_id}-{k}", "number": k + 1,
                              "pos": "GDMF"[min(k // 3, 3)], "grid": None, "captain": k == 0}}
                  for k in range(11)]
            subs = [{"player": {"id": team_id * 100 + 11 + k, "name": f"P{team_id}-{11 + k}",
                                "number": 12 + k, "pos": "M", "grid": None, "captain": False}}
                    for k in range(5)]
            self._players.update(p["player"]["id"] for p in xi + subs)
            self._count["lineups"] += 16
            resp.append({"team": {"id": team_id, "name": self.uni.teams[team_id].name},
                         "formation": "4-3-3", "coach": {"id": team_id, "name": "Coach"},
                         "startXI": xi, "substitutes": subs})
        return {"get": "fixtures/lineups", "results": 2, "paging": {"current": 1, "total": 1},
                "response": resp}

    # rounds ---------------------------------------------------------------

    def next_round(self) -> tuple[datetime, list[tuple[str, bytes]]]:
        rng, i = self.rng, self.rounds
        ts0 = self.now(i)
        old = sorted(self.fixtures)
        picks = [(fid, False) for fid in rng.sample(old, min(self.recollect, len(old)))]
        for _ in range(self.new_per_round):
            lg = rng.choice(self.uni.leagues)
            h, a = rng.sample(lg.team_ids, 2)
            # kickoffs spread over the next ~10 days of the replay clock
            ko = ts0 + timedelta(hours=rng.randrange(2, 240), minutes=15 * rng.randrange(4))
            fx = Fixture(self._next_fid, lg.id, h, a, ko, i)
            self._next_fid += 1
            self.fixtures[fx.id] = fx
            picks.append((fx.id, True))
        docs = []
        for k, (fid, new) in enumerate(sorted(picks)):
            fx = self.fixtures[fid]
            phase = PHASES[0] if new else PHASES[1 + (i + fid) % 3]
            ts = ts0 + timedelta(seconds=k)  # distinct per doc: total order per series
            doc = self._doc(fx, phase, ts, new)
            body = json.dumps(doc, sort_keys=True, separators=(",", ":")).encode()
            docs.append((f"r{i:05d}_f{fid}.json", body))
            self._teams.update((fx.home, fx.away))
            self._leagues.add(fx.league_id)
        self._count.update(teams=len(self._teams), leagues=len(self._leagues),
                           fixtures=len(self.fixtures), players=len(self._players))
        self.counts.append(dict(self._count))
        self.rounds += 1
        return ts0, docs

    @staticmethod
    def now(upto: int) -> datetime:
        """The replay clock once ``upto`` rounds have been collected."""
        return EPOCH + CYCLE * upto

    # the gold-read answers as of ``upto`` drained rounds ------------------

    def _fixtures(self, upto: int) -> list[Fixture]:
        return [f for f in self.fixtures.values() if f.round < upto]

    def _odds(self, fid: int, upto: int) -> list[dict]:
        return [r for r in self.odds.get(fid, []) if r["round"] < upto]

    def _next_game(self, team_id: int, upto: int) -> Fixture | None:
        now = self.now(upto)
        up = [f for f in self._fixtures(upto) if team_id in (f.home, f.away) and f.kickoff > now]
        return min(up, key=lambda f: (f.kickoff, f.id)) if up else None

    def alerts_of(self, rnd: int) -> set[tuple]:
        return {a for r, a in self.alerts if r == rnd}

    def events_of(self, rnd: int) -> list[dict]:
        """Round ``rnd``'s odds projected to the movement operator's
        event columns: one event per (fixture, bookmaker, market)
        snapshot, valued at its home price (over price for totals) —
        the series the alert model above is computed over."""
        rows = sorted((r for rs in self.odds.values() for r in rs if r["round"] == rnd),
                      key=lambda r: (r["collected_at"], r["fixture_id"], r["bookmaker"],
                                     r["market_type"]))
        return [{"event_id": rnd * 1_000_000 + i, "ts": r["collected_at"],
                 "user_id": r["fixture_id"],
                 "event_type": f"{r['bookmaker']}|{r['market_type']}",
                 "value": r["home_odds"] if r["home_odds"] is not None else r["over_odds"]}
                for i, r in enumerate(rows)]

    def expect_odds(self, team_id: int, upto: int, n: int = 3) -> list[tuple]:
        """team_odds_lookup: the latest ``n`` h2h snapshots of the next game."""
        fx = self._next_game(team_id, upto)
        if fx is None:
            return []
        rows = [r for r in self._odds(fx.id, upto) if r["market_type"] == "h2h"]
        rows.sort(key=lambda r: (r["collected_at"], r["bookmaker"]), reverse=True)
        return sorted((fx.id, r["bookmaker"], _naive(r["collected_at"]), r["home_odds"])
                      for r in rows[:n])

    def expect_trends(self, team_id: int, upto: int) -> list[tuple]:
        """odds_trends: the next game's trail, each row with its series'
        snapshot count and first/last home price."""
        fx = self._next_game(team_id, upto)
        if fx is None:
            return []
        trail = self._odds(fx.id, upto)
        series: dict[tuple, list[dict]] = {}
        for r in trail:
            series.setdefault((r["bookmaker"], r["market_type"]), []).append(r)
        summary = {}
        for key, rows in series.items():
            rows.sort(key=lambda r: (r["collected_at"], r["collection_phase"]))
            summary[key] = (len(rows), rows[0]["home_odds"], rows[-1]["home_odds"])
        return sorted(
            (fx.id, r["bookmaker"], r["market_type"], _naive(r["collected_at"]), r["home_odds"])
            + summary[(r["bookmaker"], r["market_type"])] for r in trail)

    def expect_form(self, team_id: int, upto: int, n_recent: int = 5) -> list[tuple]:
        """team_form over the static results table: the latest stats
        snapshot replicated onto the team's last ``n_recent`` results.
        A team no drained document has named yet resolves to nothing."""
        snaps = [s for s in self.stats.get(team_id, []) if s[0] < upto]
        if not snaps:
            return []
        snap = max(snaps, key=lambda s: (s[1], s[2], s[3]))[4]
        res = [r for r in self.uni.results if team_id in (r[2], r[3])]
        res.sort(key=lambda r: (r[4], r[0]), reverse=True)
        # the opponent's name comes from the teams dim (inner join after
        # the top-n cut): results against teams not collected yet drop out
        seen = {t for f in self._fixtures(upto) for t in (f.home, f.away)}
        rows = [(r[0],) + snap for r in res[:n_recent]
                if (r[3] if r[2] == team_id else r[2]) in seen]
        return sorted(rows) if rows else [(None,) + snap]

    def expect_games(self, upto: int, horizon_h: int) -> list[tuple]:
        """upcoming_games_with_odds with a horizon: fixtures kicking off
        in (now, now + horizon] with their latest h2h snapshot."""
        now = self.now(upto)
        end = now + timedelta(hours=horizon_h)
        out = []
        for fx in self._fixtures(upto):
            if now < fx.kickoff <= end:
                rows = [r for r in self._odds(fx.id, upto) if r["market_type"] == "h2h"]
                best = max(rows, key=lambda r: (r["collected_at"], r["bookmaker"]))
                out.append((fx.id, best["bookmaker"], _naive(best["collected_at"]),
                            best["home_odds"]))
        return sorted(out)

    def expect_league(self, league_id: int, upto: int) -> list[tuple]:
        """league_teams: (team_id, n_games) over the league's fixtures."""
        n: dict[int, int] = {}
        for fx in self._fixtures(upto):
            if fx.league_id == league_id:
                for t in (fx.home, fx.away):
                    n[t] = n.get(t, 0) + 1
        return sorted(n.items())


def _naive(ts: datetime) -> datetime:
    """UTC wall time without tzinfo — how Spark hands timestamps back to
    a process whose local zone is UTC."""
    return ts.replace(tzinfo=None)


# --- resolve: noisy odds-side names ---------------------------------------

_ACCENT = {"e": "é", "a": "á", "o": "ö", "u": "ü", "i": "í", "n": "ñ", "c": "ç"}
_ABBREV = {"United": "Utd"}
NOISE_KINDS = ("exact", "case", "affix", "abbrev", "accent", "order", "typo")


def _typo(rng: random.Random, word: str) -> str:
    """One substitution inside a word (never its first letter)."""
    i = rng.randrange(1, len(word))
    alphabet = [c for c in "abcdefghiklmnoprstuvwy" if c != word[i].lower()]
    return word[:i] + rng.choice(alphabet) + word[i + 1:]


def noisy_name(rng: random.Random, name: str, kind: str) -> str:
    city, suffix = name.split(" ", 1)
    if kind == "exact":
        return name
    if kind == "case":
        return rng.choice((name.upper(), name.lower()))
    if kind == "affix":
        return rng.choice((f"{name} FC", f"FC {name}", f"{name} AFC"))
    if kind == "abbrev":
        return f"{city} {_ABBREV.get(suffix, suffix)} FC" if suffix in _ABBREV else f"{name} F.C."
    if kind == "accent":
        idx = [i for i, c in enumerate(city) if c in _ACCENT]
        if not idx:
            return name.upper()
        i = rng.choice(idx)
        return f"{city[:i]}{_ACCENT[city[i]]}{city[i + 1:]} {suffix}"
    if kind == "order":
        return f"{suffix} {city}"
    if kind == "typo":
        return f"{_typo(rng, city)} {suffix}"
    raise ValueError(kind)


def name_batches(seed: int, uni: Universe, n_batches: int, batch_size: int,
                 recur_share: float = 0.4) -> list[list[tuple[str, int, str, str]]]:
    """Batches of ``(odds_name, league_id, true_team_name, noise_kind)``.

    ``recur_share`` of each batch after the first repeats names seen
    in earlier batches, so learned mappings turn into hits. Names are
    unique within a batch (the resolver keys on the name)."""
    rng = _rng(seed, "names")
    teams = sorted(uni.teams.values(), key=lambda t: t.id)
    seen: list[tuple[str, int, str, str]] = []
    out = []
    for _ in range(n_batches):
        batch: dict[str, tuple] = {}
        n_recur = int(batch_size * recur_share) if seen else 0
        while len(batch) < n_recur:
            rec = rng.choice(seen)
            batch.setdefault(rec[0], rec)
        # noise kinds rotate, so every batch has the same mix whatever the seed
        for guard in range(batch_size * 50):
            if len(batch) == batch_size:
                break
            t = rng.choice(teams)
            kind = NOISE_KINDS[guard % len(NOISE_KINDS)]
            rec = (noisy_name(rng, t.name, kind), t.league_id, t.name, kind)
            batch.setdefault(rec[0], rec)
        else:
            raise ValueError("batch_size too large for the name universe")
        recs = sorted(batch.values())
        seen.extend(r for r in recs if r not in seen)
        out.append(recs)
    return out


# --- curate: corpus batches with planted duplicates ------------------------

WEIGHT_MOD, WEIGHT_SALT = 2001, "qw:"  # operators.quality's hashed weights


def quality_weight(word: str) -> float:
    h = int(hashlib.md5((WEIGHT_SALT + word).encode()).hexdigest()[:8], 16)
    return (h % WEIGHT_MOD - 1000) / 1000.0


def quality_keep(text: str) -> bool:
    """operators.quality's keep decision: Σ token weights > 0 (exact
    thousandths, so the float sum is rounded before comparing)."""
    words = [w for w in text.split(" ") if w]
    return bool(words) and round(sum(quality_weight(w) for w in words), 3) > 0


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    lang: str
    source: str
    #: "" | "exact" | "near" — a planted duplicate of ``of``
    dup: str = ""
    of: int = -1
    low_quality: bool = False
    pii: bool = False


class CorpusFeed:
    """Document batches for the ``curate`` workload. Each batch has
    ``size`` docs: fresh unique docs, plus planted exact and near
    copies of docs from this batch or earlier ones, low-quality docs
    and docs carrying an email or phone number. Copies always get a
    larger doc_id than their original, so the original is the one a
    min-doc_id dedup keeps."""

    def __init__(self, seed: int, size: int = 120, words: int = 40,
                 exact_share: float = 0.1, near_share: float = 0.1,
                 low_share: float = 0.1, pii_share: float = 0.1):
        self.rng = _rng(seed, "corpus")
        self.size, self.words = size, words
        self.shares = (exact_share, near_share, low_share, pii_share)
        vocab = [f"w{self.rng.getrandbits(40):010x}" for _ in range(4000)]
        self.good = [w for w in vocab if quality_weight(w) > 0.2]
        self.bad = [w for w in vocab if quality_weight(w) < -0.2]
        self.originals: list[Doc] = []  # dup-free good docs, candidates to copy
        self.next_id = 1
        self.batches = 0

    def _text(self, pool: list[str], keep: bool) -> str:
        while True:
            text = " ".join(self.rng.sample(pool, self.words))
            if quality_keep(text) == keep:
                return text

    def _new(self, **kw) -> Doc:
        d = Doc(self.next_id, lang="en", source=f"src{self.next_id % 5}", **kw)
        self.next_id += 1
        return d

    def next_batch(self) -> list[Doc]:
        rng = self.rng
        ex, near, low, pii = self.shares
        n_ex, n_near = int(self.size * ex), int(self.size * near)
        n_low, n_pii = int(self.size * low), int(self.size * pii)
        fresh = self.size - n_ex - n_near - n_low - n_pii
        docs = [self._new(text=self._text(self.good + self.bad[:50], True))
                for _ in range(fresh)]
        for _ in range(n_low):
            docs.append(self._new(text=self._text(self.bad, False), low_quality=True))
        for k in range(n_pii):
            # PII docs contain only good words besides the PII token, so
            # redaction cannot turn two of them into copies of each other
            base = self._text(self.good, True).split(" ")
            tok = (f"user{self.next_id}@mail{k}.example.com" if k % 2 == 0
                   else f"555-{100 + self.next_id % 900:03d}-{self.next_id % 10000:04d}")
            base[rng.randrange(len(base))] = tok
            text = " ".join(base)
            if not quality_keep(text):
                text = self._text(self.good, True)  # still unique, just no PII
                docs.append(self._new(text=text))
                continue
            docs.append(self._new(text=text, pii=True))
        pool = self.originals + [d for d in docs if not d.low_quality and not d.pii]
        for _ in range(n_ex):
            src = rng.choice(pool)
            docs.append(self._new(text=src.text, dup="exact", of=src.doc_id))
        for _ in range(n_near):
            src = rng.choice(pool)
            words = src.text.split(" ")
            words[rng.randrange(len(words))] = rng.choice(self.good)
            text = " ".join(words)
            if not quality_keep(text) or text == src.text:
                text = src.text  # fall back to an exact copy
                docs.append(self._new(text=text, dup="exact", of=src.doc_id))
                continue
            docs.append(self._new(text=text, dup="near", of=src.doc_id))
        self.originals.extend(d for d in docs if not d.dup and not d.low_quality and not d.pii)
        self.batches += 1
        return docs


def expected_kept(doc: Doc) -> bool | None:
    """True: must be accepted; False: must not be; None: either
    (a planted near copy — minhash banding finds it with high, not
    certain, probability)."""
    if doc.low_quality or doc.dup == "exact":
        return False
    if doc.dup == "near":
        return None
    return True
