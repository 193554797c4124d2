"""Seeded input generators for the benchmark workloads.

Every input the benchmark feeds the package comes from here, and every
generator also returns what a correct run must produce, so the checks in
``run.py`` compare against values computed without Spark:

* ``CapFeed``       one-line CAP 1.2 alerts for the batch refresh, with the
                    expected feature ids of the active, valid ones;
* ``StreamPlan``    the open-loop landing schedule for the stream tail:
                    new alerts per tick plus republished ones;
* ``Corpus``        a Zipf-vocabulary document corpus with planted exact
                    and near copies, low-quality junk, and 64-d embeddings
                    with planted near-duplicate vectors.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import math
import random

import numpy as np

CAP_NS = "urn:oasis:names:tc:emergency:cap:1.2"
NZ_LAT = (-46.5, -34.5)
NZ_LON = (166.5, 178.5)
EVENTS = ("strongWind", "heavyRain", "snow", "thunderstorm", "tsunami", "flood")
COLOURS = ("Red", "Orange", "Yellow", "Green", "Blue")

#: alert families and their shares of a generated feed; the batch check
#: and the stream check both derive expected feature ids per family.
FAMILIES = (
    ("polygon", 0.52),  # 1-3 valid polygons
    ("poisoned", 0.08),  # a polygon with a bad pair; earlier ones still emit
    ("circle", 0.12),
    ("bad_circle", 0.03),  # unparseable circle → NZ-centre fallback point
    ("no_geometry", 0.08),
    ("expired", 0.10),  # dropped by the active filter
    ("broken_xml", 0.04),  # dropped by the parser
    ("no_info", 0.03),  # dropped by the required-field rule
)


def iso(ts: float) -> str:
    """Epoch seconds → CAP ISO-8601 with an explicit UTC offset."""
    return (
        dt.datetime.fromtimestamp(ts, dt.timezone.utc)
        .replace(microsecond=0)
        .isoformat()
    )


def _vertex_count(rng: random.Random) -> int:
    # skewed toward small rings: most polygons have a handful of vertices,
    # a long tail reaches 250
    return 4 + int(246 * rng.random() ** 4)


def _ring(rng: random.Random, n: int) -> str:
    """A closed ``lat,lon`` ring of n distinct vertices plus the closure."""
    clat = rng.uniform(*NZ_LAT)
    clon = rng.uniform(*NZ_LON)
    r = rng.uniform(0.05, 0.6)
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        rr = r * rng.uniform(0.7, 1.0)
        pts.append(f"{clat + rr * math.sin(a):.4f},{clon + rr * math.cos(a):.4f}")
    pts.append(pts[0])
    return " ".join(pts)


def _certificate(rng: random.Random) -> str:
    body = (
        f"0\x82CN=cap.metservice.com,O=MetService Test {rng.randrange(100)}"
        f",C=NZ 2401{rng.randrange(10, 28)}000000Z 2610{rng.randrange(10, 28)}000000Z"
    ).encode("latin-1") + rng.randbytes(96)
    b64 = base64.b64encode(body).decode()
    # real feeds wrap the payload and leave &#13; entities in it
    return "&#13;\n".join(b64[i : i + 64] for i in range(0, len(b64), 64))


def _expected_ids(identifier: str, polys: list[tuple[str, bool]]) -> list[str]:
    """Feature ids the reference control flow emits for one active alert."""
    if not polys:
        return [identifier]
    out = []
    multi = len(polys) > 1
    for i, (_, ok) in enumerate(polys):
        if not ok:
            return out + [identifier]  # first poisoned polygon → fallback
        pid = f"{identifier}-{i}" if multi else identifier
        out += [pid, f"{pid}-center"]
    return out


def make_alert(
    rng: random.Random, identifier: str, sent: float, family: str
) -> tuple[str, list[str], int]:
    """One CAP alert as a single XML line.

    Returns (xml, expected feature ids once active, polygon vertices)."""
    polys: list[tuple[str, bool]] = []
    circle = ""
    if family in ("polygon", "expired", "poisoned"):
        k = rng.choice((1, 1, 1, 2, 3))
        polys = [(_ring(rng, _vertex_count(rng)), True) for _ in range(k)]
        if family == "poisoned":
            j = rng.randrange(k)
            bad = rng.choice(("95.0,170.0", "-41.2,abc", "-41.2", "-41,172,9"))
            ring = polys[j][0].split(" ")
            ring.insert(rng.randrange(1, len(ring)), bad)
            polys[j] = (" ".join(ring), False)
    elif family == "circle":
        circle = f"{rng.uniform(*NZ_LAT):.4f},{rng.uniform(*NZ_LON):.4f} {rng.uniform(1, 80):.1f}"
    elif family == "bad_circle":
        circle = rng.choice(("-41.2,174.7 0", "x,y 10", "-41.2 5"))
    expires = sent + (-86400 * rng.uniform(1, 5) if family == "expired" else 86400 * 3)
    event = rng.choice(EVENTS)
    parts = [
        f'<alert xmlns="{CAP_NS}"><identifier>{identifier}</identifier>'
        f"<sender>alerts@metservice.com</sender><sent>{iso(sent)}</sent>"
        "<status>Actual</status><msgType>Alert</msgType><scope>Public</scope>"
    ]
    if family != "no_info":
        parts.append(
            f"<info><category>Met</category><event>{event}</event>"
            "<responseType>Prepare</responseType><urgency>Expected</urgency>"
            f"<severity>{rng.choice(('Minor', 'Moderate', 'Severe'))}</severity>"
            "<certainty>Likely</certainty><senderName>MetService</senderName>"
            f"<headline>{event} warning {identifier[-6:]}</headline>"
            f"<description>{event} expected across the area; "
            f"gusts {rng.randrange(60, 140)} km/h.</description>"
            "<instruction>Secure loose objects.</instruction>"
            f"<onset>{iso(sent + 3600)}</onset><expires>{iso(expires)}</expires>"
            "<web>https://www.metservice.com/warnings/home</web>"
        )
        if rng.random() < 0.6:
            parts.append(
                "<parameter><valueName>ColourCode</valueName>"
                f"<value>{rng.choice(COLOURS)}</value></parameter>"
            )
        parts.append(f"<area><areaDesc>Area {rng.randrange(500)}</areaDesc>")
        parts += [f"<polygon>{p}</polygon>" for p, _ in polys]
        if circle:
            parts.append(f"<circle>{circle}</circle>")
        parts.append("</area></info>")
    if rng.random() < 0.3:
        parts.append(
            "<Signature><KeyInfo><X509Data><X509Certificate>"
            f"{_certificate(rng)}</X509Certificate></X509Data></KeyInfo></Signature>"
        )
    parts.append("</alert>")
    xml = "".join(parts).replace("\n", "")
    if family == "broken_xml":
        # cut inside the header: no parser can recover an <info> from it
        xml = xml[: rng.randrange(40, xml.index("<status>"))]
    vertices = sum(len(p.split(" ")) for p, _ in polys)
    if family in ("expired", "broken_xml", "no_info"):
        return xml, [], vertices
    return xml, _expected_ids(identifier, polys), vertices


def _family(rng: random.Random) -> str:
    x = rng.random()
    for name, share in FAMILIES:
        if x < share:
            return name
        x -= share
    return FAMILIES[0][0]


def _family_deck(rng: random.Random, n: int) -> list[str]:
    """Exactly ``round(share·n)`` alerts per family, in seeded order, so
    every seed's feed carries the same amount of work of each kind."""
    deck = [name for name, share in FAMILIES for _ in range(round(share * n))]
    deck += [FAMILIES[0][0]] * (n - len(deck))
    rng.shuffle(deck)
    return deck[:n]


class CapFeed:
    """A generated full-feed snapshot and its expected refresh output."""

    def __init__(self, seed: int, n_alerts: int, now: float):
        rng = random.Random(f"cap_batch:{seed}")
        self.lines: list[str] = []
        self.expected_ids: list[str] = []
        self.vertices = 0
        for i, family in enumerate(_family_deck(rng, n_alerts)):
            sent = now - rng.uniform(0, 6 * 3600)
            xml, ids, nv = make_alert(rng, f"NZ-{seed}-{i:07d}", sent, family)
            self.lines.append(xml)
            self.expected_ids += ids
            self.vertices += nv
        self.expected_ids.sort()
        self.expected_digest = digest(self.expected_ids)

    def write(self, path: str, files: int) -> None:
        """Land the snapshot as ``files`` newline-delimited part files."""
        import os

        os.makedirs(path, exist_ok=True)
        per = -(-len(self.lines) // files)
        for f in range(files):
            chunk = self.lines[f * per : (f + 1) * per]
            with open(os.path.join(path, f"part-{f:03d}.xml"), "w") as fh:
                fh.write("\n".join(chunk) + "\n")


def digest(sorted_ids: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted_ids).encode()).hexdigest()


class StreamPlan:
    """Open-loop landing schedule for the stream tail.

    One file lands every ``tick_s``. A tick at ``rate`` alerts/s carries
    ``rate·tick_s`` new alerts whose ``<sent>`` is the tick's due time and
    whose identifier encodes it (``NZ-<seed>-<seq>-<due_ms>``), plus
    republished copies of earlier alerts so that ``republish`` of the
    identifiers in each file are repeats, as real feeds republish every
    active alert on every poll.
    """

    def __init__(self, seed: int, tick_s: float, republish: float = 0.4):
        self.rng = random.Random(f"cap_stream:{seed}")
        self.seed = seed
        self.tick_s = tick_s
        self.republish = republish
        self.seq = 0
        self.published: list[tuple[str, int]] = []  # (line, feature count)
        self.expected: dict[str, list[str]] = {}  # identifier → feature ids
        self.new_alerts = 0
        self.repeats = 0
        self.features_landed = 0  # feature rows the landed lines yield before dedup

    def tick(self, due: float, rate: float) -> list[str]:
        n_new = max(1, round(rate * self.tick_s))
        lines = []
        for _ in range(n_new):
            ident = f"NZ-{self.seed}-{self.seq:07d}-{int(round(due * 1000))}"
            self.seq += 1
            fam = _family(self.rng)
            xml, ids, _ = make_alert(self.rng, ident, due, fam)
            lines.append(xml)
            if ids:
                self.expected[ident] = ids
                self.published.append((xml, len(ids)))
                self.features_landed += len(ids)
        self.new_alerts += n_new
        n_rep = min(
            len(self.published),
            round(n_new * self.republish / (1 - self.republish)),
        )
        # repeat recent alerts, as a feed snapshot does
        window = self.published[-max(n_rep * 4, 1) :]
        for xml, n_feat in self.rng.sample(window, n_rep) if n_rep else []:
            lines.append(xml)
            self.features_landed += n_feat
        self.repeats += n_rep
        self.rng.shuffle(lines)
        return lines


def due_of(feature_id: str) -> float:
    """Due time (epoch s) encoded in a stream alert's identifier or in any
    of its feature ids."""
    return int(feature_id.split("-")[3]) / 1000.0


def ident_of(feature_id: str) -> str:
    return "-".join(feature_id.split("-")[:4])


# -- corpus -------------------------------------------------------------


def _vocab(rng: random.Random, n: int) -> list[str]:
    cons, vow = "bcdfghklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < n:
        k = rng.choice((1, 2, 2, 3, 3, 4))
        words.add("".join(rng.choice(cons) + rng.choice(vow) for _ in range(k)))
    return sorted(words)


#: Document lengths are log-uniform in this range. Shingling in the
#: package costs O(tokens²) per document (``operators.dedup.word_shingles``
#: re-splits the text for every shingle: one 2000-token document takes
#: ~1.3 s per evaluation on a 4-core box), so a 2000-token tail would make
#: a single pass outlast the run; the 4x range keeps that cost visible.
MIN_DOC_TOKENS, MAX_DOC_TOKENS = 50, 200


class Corpus:
    """Synthetic training corpus with planted duplicates of known shape.

    * ``n_seed`` distinct seed documents (Zipf vocabulary, log-uniform
      lengths in [MIN_DOC_TOKENS, MAX_DOC_TOKENS]);
    * exact-copy clusters of sizes 2-4 and near-copy clusters of sizes 2-4
      (each near copy replaces ~2% of its source's tokens); every copy's
      id is larger than its source's, so a min-id representative is the
      seed document;
    * ``junk`` low-quality documents (digit/punctuation soup) that the
      quality gate must drop;
    * one 64-d embedding per seed document plus planted near-duplicate
      vectors (cosine > 0.999 to their source).
    """

    def __init__(self, seed: int, n_seed: int):
        rng = random.Random(f"corpus:{seed}")
        nrng = np.random.default_rng(rng.randrange(1 << 30))
        vocab = _vocab(rng, 20000)
        weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
        weights /= weights.sum()
        # stratified log-uniform lengths in seeded order: the same total
        # shingling work for every seed
        q = (np.arange(n_seed) + 0.5) / n_seed
        lens = np.exp(
            math.log(MIN_DOC_TOKENS) + q * math.log(MAX_DOC_TOKENS / MIN_DOC_TOKENS)
        ).astype(int)
        nrng.shuffle(lens)
        draws = nrng.choice(len(vocab), size=int(lens.sum()), p=weights)
        seeds, pos = [], 0
        for n in lens:
            seeds.append([vocab[w] for w in draws[pos : pos + n]])
            pos += n
        docs: list[tuple[int, str]] = []
        self.seed_ids: list[int] = []
        for toks in seeds:
            self.seed_ids.append(len(docs))
            docs.append((len(docs), " ".join(toks)))
        self.exact_copies: list[int] = []
        self.near_copies: list[tuple[int, int]] = []  # (copy id, source id)
        picks = rng.sample(range(n_seed), n_seed // 4)
        for j, src in enumerate(picks):
            size = (2, 3, 2, 4)[(j // 2) % 4]  # both kinds get every size
            for _ in range(size - 1):
                if j % 2 == 0:
                    self.exact_copies.append(len(docs))
                    docs.append((len(docs), docs[src][1]))
                else:
                    toks = seeds[src][:]
                    for _ in range(max(1, len(toks) // 50)):
                        toks[rng.randrange(len(toks))] = rng.choice(vocab)
                    self.near_copies.append((len(docs), src))
                    docs.append((len(docs), " ".join(toks)))
        self.junk_ids: list[int] = []
        for _ in range(n_seed // 20):
            self.junk_ids.append(len(docs))
            junk = " ".join(
                "".join(rng.choice("0123456789#$%&*!?") for _ in range(rng.randrange(1, 4)))
                for _ in range(rng.randrange(60, 300))
            )
            docs.append((len(docs), junk))
        self.docs = docs

        vecs = nrng.normal(size=(n_seed, 64))
        self.vectors: list[tuple[int, list[float]]] = [
            (i, [round(float(x), 6) for x in v]) for i, v in enumerate(vecs)
        ]
        self.planted_vec_pairs: set[tuple[int, int]] = set()
        for src in rng.sample(range(n_seed), n_seed // 10):
            vid = len(self.vectors)
            noisy = vecs[src] + nrng.normal(scale=0.001, size=64)
            self.vectors.append((vid, [round(float(x), 6) for x in noisy]))
            self.planted_vec_pairs.add((src, vid))
