"""Seeded generator of the benchmark's nested betting tree.

The tree (tournaments -> events -> markets -> lines -> selections, as
``schemas.SPORT_EVENT`` records) is what the tree refresh operations
feed through the REST source. It is a pure function of
``(seed, tournaments, events_per_tournament)``. The catalog tables are
not generated: they are the repository's test tables, copied under
``perfbench/data``.
"""

from __future__ import annotations

import datetime

import numpy as np

_TEAMS = (
    ("Lakers", "LAL"), ("Celtics", "BOS"), ("Bulls", "CHI"), ("Heat", "MIA"),
    ("Knicks", "NYK"), ("Suns", "PHX"), ("Nets", "BKN"), ("Kings", "SAC"),
    ("Jazz", "UTA"), ("Magic", "ORL"), ("Spurs", "SAS"), ("Hawks", "ATL"),
)
_MARKET_TYPES = ("moneyline", "spread", "total", "prop")
_STATUSES = ("upcoming", "live", "closed")


def _selection(rng, line_id: str) -> dict:
    def maybe(value):
        return None if rng.random() < 0.1 else value

    odds = int(rng.choice((-1, 1)) * rng.integers(100, 400))
    return {
        "line_id": line_id,
        "display_name": f"Sel {line_id}",
        "name": f"sel_{line_id.lower()}",
        "odds": maybe(odds),
        "stake": maybe(float(rng.integers(1, 2000)) / 4),
        "value": maybe(float(rng.integers(101, 999)) / 100),
    }


def _market(rng, event_id: int, m: int, ts_ns: int) -> dict:
    mid = f"m{event_id}_{m}"
    with_lines = rng.random() < 0.5

    def groups(prefix: str) -> list[list[dict]]:
        out = []
        for g in range(int(rng.integers(1, 4))):
            size = int(rng.integers(0 if with_lines else 1, 4))
            out.append([_selection(rng, f"{prefix}G{g}S{s}") for s in range(size)])
        return out

    market = {
        "id": mid,
        "name": f"Market {m}",
        "type": _MARKET_TYPES[int(rng.integers(0, 4))],
        "status": "open" if rng.random() < 0.8 else "suspended",
        "updated_at": ts_ns,
        "market_lines": None,
        "selections": None,
    }
    if with_lines:
        market["market_lines"] = [
            {
                "id": f"{mid}L{k}",
                "name": f"Line {k}",
                "line": None if rng.random() < 0.1 else float(rng.integers(-40, 41)) / 2,
                "favourite": (None, "home", "away")[int(rng.integers(0, 3))],
                "type": market["type"],
                "selections": groups(f"{mid}L{k}"),
            }
            for k in range(int(rng.integers(1, 3)))
        ]
    else:
        market["selections"] = groups(mid)
    return market


def make_tree(seed: int, tournaments: int, events_per_tournament: int) -> list[list[dict]]:
    """The nested betting tree as ``tournaments`` snapshots, each a list
    of SPORT_EVENT records (what one tournament's REST scan returns).

    Covers both flatten branches, null optional fields, one-competitor
    events and empty inner selection lists; ``scheduled`` spans a DST
    boundary and ``updated_at`` carries a microsecond component."""
    rng = np.random.default_rng([seed, 2])
    base = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    snapshots = []
    for t in range(tournaments):
        records = []
        for k in range(events_per_tournament):
            event_id = t * 1_000_000 + k
            when = base + datetime.timedelta(minutes=int(rng.integers(0, 60 * 24 * 30)))
            home, away = rng.choice(len(_TEAMS), 2, replace=False)
            competitors = [
                {"display_name": _TEAMS[home][0], "abbreviation": _TEAMS[home][1], "side": "home"},
                {"display_name": _TEAMS[away][0], "abbreviation": _TEAMS[away][1], "side": "away"},
            ]
            if rng.random() < 0.05:
                competitors = competitors[:1]
            updated_ns = (
                int(when.timestamp()) - int(rng.integers(60, 86_400))
            ) * 1_000_000_000 + int(rng.integers(0, 1_000_000)) * 1_000
            records.append({
                "event_id": event_id,
                "name": f"e{event_id}",
                "display_name": f"{_TEAMS[home][0]} vs {_TEAMS[away][0]}",
                "scheduled": when.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "status": _STATUSES[int(rng.integers(0, 3))],
                "competitors": competitors,
                "markets": [
                    _market(rng, event_id, m, updated_ns)
                    for m in range(int(rng.integers(1, 5)))
                ],
            })
        snapshots.append(records)
    return snapshots


def tree_rows(records: list[dict]) -> int:
    """Flat sheet rows the two-branch flatten yields for ``records``:
    one per outer selection group of every market line (branch A), one
    per inner selection of every line-less market (branch B)."""
    rows = 0
    for event in records:
        for market in event["markets"] or []:
            if market["market_lines"] is not None:
                rows += sum(len(ml["selections"] or []) for ml in market["market_lines"])
            else:
                rows += sum(len(g) for g in market["selections"] or [])
    return rows
