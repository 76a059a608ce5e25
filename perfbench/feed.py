"""Seeded HFP feed generator with ground truth.

A model of HSL's two redundant HFP feeds: every vehicle reports once a
second, the primary feed delivers each report, and the second feed
delivers a byte-identical copy a bounded delay later.  The traffic
parameters (rates, delays, shares) are assumptions; see the constants
below.  Lines have the
``server_ts topic json`` shape of FIXTURES.md section A1, in arrival
order, so the file is what the deduplicator reads.

What the feed plants, and what the truth records:

* second-feed copies ``1..MAX_DELAY_MS`` after the primary; the second
  feed also loses one report in ``LOSS_EVERY``, so a healthy window's
  duplicate ratio sits a little under 1.0, inside the reference's alert
  band (0.97 to 1.0, environment.conf:29-34);
* near-duplicates: a share of reports has a sibling for the same
  vehicle-second that differs in exactly one VP field (``odo``).  Both
  are distinct messages and must both be forwarded;
* one outage: the second feed is down for one whole stats window,
  which must raise exactly one ``FEED_DOWN``.

Arrival times are whole milliseconds, because the streaming tagger and
the batch oracle both measure delay with ``unix_millis``.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

EPOCH0 = int(dt.datetime(2018, 10, 9, 4, 0, tzinfo=dt.timezone.utc).timestamp())
_DAY0 = EPOCH0 - 4 * 3600
WINDOW_S = 60  # DedupConfig.poll_interval default: "1 minute"
# The traffic shape.  Only the redundancy has a source: two feeds, so
# nearly every message arrives twice (PAPER.md).  The values below are
# assumptions, not measurements; the README's "Feed assumptions" lists
# them.  They are to be calibrated once a two-feed reference corpus is
# in the repository.
NEAR_DUP_SHARE = 0.02
LOSS_EVERY = 128  # the second feed loses one report in this many
MAX_DELAY_MS = 1000  # second-feed copies arrive 1..this many ms late
PRIMARY_LAG_MS = (20, 300)  # report time to primary arrival, [lo, hi)

_HEADSIGNS = ("Munkkiniemi", "Rautatientori", "Kamppi", "Itakeskus", "Pasila", "Otaniemi")
_MODES = ("bus", "bus", "bus", "tram", "train")


@dataclass
class Feed:
    """A generated feed: lines in arrival order plus ground truth."""

    lines: list[str]
    arrival_ms: np.ndarray  # per line, epoch ms
    msg_id: np.ndarray  # per line, index of the unique message it carries
    is_prime: np.ndarray  # per line, first copy of its message
    n_unique: int
    outage_window: int  # window_start (epoch s) of the planted outage
    windows: dict[int, dict] = field(default_factory=dict)

    def topic_payload(self, i: int) -> tuple[str, str]:
        """(topic, payload) of line ``i`` by the FIXTURES A1 parse rule."""
        line = self.lines[i]
        sp = line.find(" ")
        brace = line.find("{")
        return line[sp + 1 : brace].strip(), line[brace:]


def _iso_ms(ms: int) -> str:
    """ISO-8601 UTC with microseconds; the feed stays inside one day."""
    sec = ms // 1000 - _DAY0
    return (
        f"2018-10-09T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"
        f".{ms % 1000:03d}000+0000"
    )


def generate(seed: int, vehicles: int, seconds: int) -> Feed:
    """Generate ``vehicles`` x ``seconds`` reports (plus near-duplicates).

    The feed starts on a window boundary.  Reports whose primary copy
    would arrive after the last whole window are dropped, so the only
    lines past it are second-feed copies: a trailing window with no
    primes, whose ratio is undefined and raises no alert.  The outage
    covers the middle window: no second-feed copy lands in it.
    """
    if seconds < 3 * WINDOW_S:
        raise ValueError("an outage window needs a feed of at least 3 windows")
    rng = np.random.default_rng(seed)
    v = np.arange(vehicles)
    oper = rng.integers(6, 60, vehicles)
    veh = rng.integers(1, 1500, vehicles)
    line_id = rng.integers(1, 1200, vehicles)
    jrn = rng.integers(1, 3000, vehicles)
    direction = rng.integers(1, 3, vehicles)
    start_h = rng.integers(5, 23, vehicles)
    start_m = rng.integers(0, 60, vehicles)
    phase_ms = rng.integers(0, 1000, vehicles)
    base_lat = 60.15 + rng.random(vehicles) * 0.1
    base_lon = 24.85 + rng.random(vehicles) * 0.2
    prefixes = []
    statics = []
    for i in range(vehicles):
        mode = _MODES[i % len(_MODES)]
        start = f"{start_h[i]:02d}:{start_m[i]:02d}"
        desi = str(line_id[i] % 600)
        prefixes.append(
            f"/hfp/v1/journey/ongoing/{mode}/{oper[i]:04d}/{veh[i]:05d}/"
            f"{line_id[i]}/{direction[i]}/{_HEADSIGNS[i % len(_HEADSIGNS)]}/{start}/"
        )
        statics.append(
            (
                f'{{"VP":{{"desi":"{desi}","dir":"{direction[i]}",'
                f'"oper":{oper[i]},"veh":{veh[i]},"tst":"',
                f'"oday":"2018-10-09","jrn":{jrn[i]},"line":{line_id[i]},'
                f'"start":"{start}"}}}}',
            )
        )

    # one report per vehicle-second; a near-duplicate sibling for a share
    # copies its report and bumps the odometer
    sec = np.repeat(np.arange(seconds), vehicles)
    veh_ix = np.tile(v, seconds)
    n_base = sec.size
    reading = {
        "spd": np.round(rng.random(n_base) * 15, 2),
        "hdg": rng.integers(0, 360, n_base),
        "acc": np.round(rng.normal(0, 0.5, n_base), 2),
        "dl": rng.integers(-120, 240, n_base),
        "drst": rng.integers(0, 2, n_base),
    }
    sib = rng.random(n_base) < NEAR_DUP_SHARE
    sec = np.concatenate([sec, sec[sib]])
    veh_ix = np.concatenate([veh_ix, veh_ix[sib]])
    reading = {k: np.concatenate([a, a[sib]]) for k, a in reading.items()}
    odo_bump = np.concatenate([np.zeros(n_base, np.int64), np.ones(int(sib.sum()), np.int64)])
    n = sec.size
    tst_ms = (EPOCH0 + sec).astype(np.int64) * 1000 + phase_ms[veh_ix]
    arr1 = tst_ms + rng.integers(*PRIMARY_LAG_MS, n)
    arr2 = arr1 + rng.integers(1, MAX_DELAY_MS + 1, n)
    n_windows = seconds // WINDOW_S
    inside = arr1 < (EPOCH0 + n_windows * WINDOW_S) * 1000
    sec, veh_ix, odo_bump = sec[inside], veh_ix[inside], odo_bump[inside]
    tst_ms, arr1, arr2 = tst_ms[inside], arr1[inside], arr2[inside]
    reading = {k: a[inside] for k, a in reading.items()}
    n = sec.size
    keep2 = (np.arange(n) % LOSS_EVERY) != (seed % LOSS_EVERY)
    # a window's duplicates are the copies that land in it
    outage_w = EPOCH0 + WINDOW_S * (n_windows // 2)
    keep2 &= arr2 // 1000 // WINDOW_S * WINDOW_S != outage_w

    lat = np.round(base_lat[veh_ix] + sec * 1e-5, 6)
    lon = np.round(base_lon[veh_ix] + sec * 1e-5, 6)
    odo = sec * 7 + odo_bump + 100
    next_stop = 1_000_000 + veh_ix * 31 + sec // 90

    payloads = []
    topics = []
    cols = zip(
        veh_ix.tolist(), tst_ms.tolist(), reading["spd"].tolist(), reading["hdg"].tolist(),
        lat.tolist(), lon.tolist(), reading["acc"].tolist(), reading["dl"].tolist(),
        odo.tolist(), reading["drst"].tolist(), next_stop.tolist(),
    )
    for vi, t, sp, hd, la, lo, ac, d, od, dr, ns in cols:
        head, tail = statics[vi]
        payloads.append(
            f'{head}{_iso_ms(t)[:23]}Z","tsi":{t // 1000},"spd":{sp},"hdg":{hd},'
            f'"lat":{la},"long":{lo},"acc":{ac},"dl":{d},"odo":{od},"drst":{dr},{tail}'
        )
        topics.append(
            f"{prefixes[vi]}{ns}/5/{int(la * 100) % 100};{int(lo * 100) % 100}/"
            f"{int(la * 1e4) % 100}/{int(lo * 1e4) % 100}"
        )

    ids2 = np.nonzero(keep2)[0]
    arrival = np.concatenate([arr1, arr2[ids2]])
    msg = np.concatenate([np.arange(n), ids2])
    prime = np.concatenate([np.ones(n, bool), np.zeros(ids2.size, bool)])
    order = np.lexsort((~prime, msg, arrival))  # arrival, then primary first
    arrival, msg, prime = arrival[order], msg[order], prime[order]
    lines = [
        f"{_iso_ms(a)} {topics[m]} {payloads[m]}"
        for a, m in zip(arrival.tolist(), msg.tolist())
    ]

    feed = Feed(lines, arrival, msg, prime, n, int(outage_w))
    feed.windows = window_truth(arrival, msg, prime, arr1)
    return feed


def window_truth(
    arrival_ms: np.ndarray, msg: np.ndarray, prime: np.ndarray, first_ms: np.ndarray
) -> dict[int, dict]:
    """Per tumbling window (epoch-second start): primes, duplicates,
    summed and average duplicate delay, by line arrival time."""
    win = arrival_ms // 1000 // WINDOW_S * WINDOW_S
    delay = arrival_ms - first_ms[msg]
    out: dict[int, dict] = {}
    for w in np.unique(win):
        sel = win == w
        dups = sel & ~prime
        n_dup = int(dups.sum())
        n_prime = int((sel & prime).sum())
        sum_delay = int(delay[dups].sum())
        out[int(w)] = {
            "primes": n_prime,
            "duplicates": n_dup,
            "sum_delay_ms": sum_delay,
            "avg_delay_ms": round(sum_delay / n_dup, 4) if n_dup else None,
        }
    return out


def expected_alert(primes: int, duplicates: int, threshold: float = 0.97) -> str | None:
    """The reference's alert bands (Analytics.java:50-60) on exact counts."""
    if primes == 0:
        return None
    ratio = round(duplicates / primes, 6)
    if ratio > 1.0:
        return "MORE_DUPLICATES_THAN_PRIMARIES"
    if ratio < threshold:
        return "FEED_DOWN"
    return None


def write_lines(path: str, lines: list[str]) -> int:
    """Write lines as one file; returns bytes written."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
