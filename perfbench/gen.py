"""Seeded input generator for the pipeline benchmark.

Everything the engine sees is written here as plain files, and every
file is a pure function of ``(seed, sizes)``:

* Booking.com-shaped review payload pages following
  ``schemas.REVIEWS_PAYLOAD``: nested ``author`` and ``stayed_room_info``
  structs, a ragged ``hotelier_response_date`` (absent on most
  records), ``""`` for absent text, lexicon and non-lexicon words in
  texts of varied length, and a fixed share of corrupt (truncated)
  pages.
* a ``documents`` parquet table shaped like the registry's testdata,
  for the read-only curation queries.

The generator also keeps the expected outcome of every review it
writes, scored by its own lexicon scorer (``score_tokens``) — an
implementation independent of the engine's — so the output checks
compare against values the engine never computed.
"""

from __future__ import annotations

import json
import os
import random
import re
from dataclasses import dataclass, field

# The scorer's lexicon and decision rule, restated from the reference
# semantics: r = pos / (pos + neg); no hits -> neutral (0.5);
# r >= 0.625 -> positive; r <= 0.375 -> negative; otherwise mixed.
POSITIVE = frozenset(
    "fast good great small value best win clean nice quick easy fresh"
    " smooth bright happy love like fine cool super".split()
)
NEGATIVE = frozenset(
    "slow bad big error worst fail dirty poor broken late hard rough"
    " dark sad hate wrong bug crash noisy cold".split()
)
_FILLER = (
    "room staff breakfast location bed bathroom hotel view pool parking"
    " shower reception price city station walk night stay food coffee"
    " window door floor lift wifi towel street area beach bar service"
    " check the and was very a of to in it we our were"
).split()
_TOKEN = re.compile("[a-z]+")
_VOCAB = sorted(POSITIVE) + sorted(NEGATIVE) + _FILLER


def _mood(pos_share: float) -> list[float]:
    """Cumulative word weights: 22% lexicon words, split by ``pos_share``."""
    w = [0.22 * pos_share / len(POSITIVE)] * len(POSITIVE)
    w += [0.22 * (1 - pos_share) / len(NEGATIVE)] * len(NEGATIVE)
    w += [0.78 / len(_FILLER)] * len(_FILLER)
    return [sum(w[: i + 1]) for i in range(len(w))]


# from mostly-negative to mostly-positive texts
_MOODS = [_mood(b) for b in (0.05, 0.3, 0.5, 0.7, 0.95)]

CORRUPT_EVERY = 40  # every 40th page is truncated in transit (2.5%)
RESPONSE_SHARE = 0.3  # share of reviews carrying hotelier_response_date
EMPTY_SHARE = 0.15  # share of text fields sent as "" (absent)

_LANGS = ("en-gb", "de", "fr", "es", "nl", "it")
_PURPOSES = ("leisure", "business", "")
_ROOMS = ("Double Room", "Twin Room", "Suite", "Single Room", "Studio")
_DOC_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark"
    " a the line sort window order data column join small customer query"
    " big filter stream group vector"
).split()
_DOC_LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def _counts(text: str) -> tuple[int, int]:
    toks = _TOKEN.findall(text.lower())
    return (sum(1 for t in toks if t in POSITIVE),
            sum(1 for t in toks if t in NEGATIVE))


def _label(pos: int, neg: int) -> tuple[str, float]:
    if pos + neg == 0:
        return "neutral", 0.5
    r = pos / (pos + neg)
    if r >= 0.625:
        return "positive", round(r, 6)
    if r <= 0.375:
        return "negative", round(r, 6)
    return "mixed", round(r, 6)


def score_tokens(text: str) -> tuple[str, float]:
    """(label, confidence) of one text under the reference rule."""
    return _label(*_counts(text))


@dataclass
class Landed:
    """What a set of payload pages should produce once ingested."""

    pages: list[str] = field(default_factory=list)
    # review_id -> (label, confidence), valid pages only; a redelivered
    # review appears once
    expected: dict[int, tuple[str, float]] = field(default_factory=dict)
    corrupt_pages: int = 0


# A review is assembled from pools drawn once per generator: texts per
# field and JSON bodies holding every other field. 10 random bits pick
# each text and 9 the body, so about 2**39 distinct reviews exist per
# seed and landing 10**5 reviews costs a few microseconds each.
_TEXT_BITS, _BODY_BITS = 10, 9
_TEXT_FIELDS = (("title", 1, 5), ("pros", 2, 30), ("cons", 2, 30),
                ("hotelier_response", 3, 12))
_SCORED = 3  # title, pros and cons make up the scored text


class ReviewGenerator:
    """Writes payload pages; review ids are unique unless redelivered."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self._next_id = 4_000_000_000 + seed % 1000 * 1_000_000
        self._next_page = 0
        # (review_id, hash, pool choice) of every review landed so far,
        # the candidates for redelivery
        self._delivered: list[tuple[int, int, int]] = []
        # per text field: (its JSON member, positive hits, negative hits)
        self._texts = []
        for name, lo, hi in _TEXT_FIELDS:
            pool = []
            for _ in range(1 << _TEXT_BITS):
                t = self._text(lo, hi)
                pool.append((f'"{name}": {json.dumps(t)}, ', *_counts(t)))
            self._texts.append(pool)
        self._bodies = [json.dumps(self._body())[1:-1]
                        for _ in range(1 << _BODY_BITS)]

    def _text(self, lo: int, hi: int) -> str:
        rng = self._rng
        if rng.random() < EMPTY_SHARE:
            return ""
        n = rng.randint(lo, hi)
        if rng.random() < 0.05:
            n *= 6  # a few long reviews
        words = rng.choices(_VOCAB, cum_weights=rng.choice(_MOODS), k=n)
        words[0] = words[0].capitalize()
        if rng.random() < 0.2:
            words.append(f"{rng.randint(1, 99)}!")
        return " ".join(words)

    def _body(self) -> dict:
        """Every field of a review but its id, hash and texts."""
        rng = self._rng
        checkin_day = rng.randint(1, 20)
        nights = rng.randint(1, 7)
        month = rng.randint(1, 12)
        rec = {
            "hotel_id": rng.randint(1_000_000, 1_000_400),
            "hotelier_name": rng.choice(("Front Desk", "Manager", "")),
            "average_score": round(rng.uniform(1.0, 10.0), 1),
            "title_translated": "",
            "pros_translated": "",
            "cons_translated": "",
            "date": f"2023-{month:02d}-{checkin_day + nights:02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00",
            "travel_purpose": rng.choice(_PURPOSES),
            "languagecode": rng.choice(_LANGS),
            "countrycode": rng.choice(("gb", "de", "fr", "es", "nl")),
            "helpful_vote_count": rng.randint(0, 20),
            "anonymous": rng.choice(("", "", "anonymous")),
            "is_trivial": rng.randint(0, 1),
            "is_moderated": rng.randint(0, 1),
            "is_incentivised": 0,
            "reviewng": 1,
            "author": {
                "type": rng.choice(("solo traveller", "couple", "family")),
                "age_group": rng.choice(("18-24", "25-34", "35-49", "50+")),
                "countrycode": rng.choice(("gb", "de", "fr")),
                "type_string": "Traveler",
                "city": rng.choice(("Leeds", "Lyon", "Graz", "")),
                "name": f"guest{rng.randint(1, 9999)}",
                "helpful_vote_count": rng.randint(0, 50),
                "user_id": rng.randint(1, 10**7),
                "nr_reviews": rng.randint(1, 40),
            },
            "stayed_room_info": {
                "room_id": rng.randint(10**8, 10**9),
                "room_name": rng.choice(_ROOMS),
                "checkin": f"2023-{month:02d}-{checkin_day:02d}",
                "checkout": f"2023-{month:02d}-{checkin_day + nights:02d}",
                "num_nights": nights,
                "photo": None if rng.random() < 0.5 else {
                    "ratio": 1.5,
                    "photo_id": rng.randint(1, 10**6),
                    "url_original": "https://example.test/p.jpg",
                    "url_square60": "https://example.test/p60.jpg",
                    "url_max300": "https://example.test/p300.jpg",
                    "url_640x200": "https://example.test/p640.jpg",
                },
            },
            "tags": rng.sample(("leisure", "couple", "family", "pets"), 2),
            "user_new_badges": [],
            "reviewer_photos": [],
        }
        if rng.random() < RESPONSE_SHARE:  # ragged optional field
            rec["hotelier_response_date"] = 1_690_000_000 + rng.randint(
                0, 10**7
            )
        return rec

    def _new_review(self) -> tuple[int, int, int]:
        rid = self._next_id
        self._next_id += 1
        bits = _TEXT_BITS * len(_TEXT_FIELDS) + _BODY_BITS
        return rid, self._rng.getrandbits(64), self._rng.getrandbits(bits)

    def _render(self, review: tuple[int, int, int]):
        """One review as JSON, with its expected (label, confidence)."""
        rid, rhash, pick = review
        mask = (1 << _TEXT_BITS) - 1
        texts = []
        for pool in self._texts:
            texts.append(pool[pick & mask])
            pick >>= _TEXT_BITS
        fields = "".join(t[0] for t in texts)
        body = self._bodies[pick]
        pos = sum(t[1] for t in texts[:_SCORED])
        neg = sum(t[2] for t in texts[:_SCORED])
        return (f'{{"review_id": {rid}, "review_hash": "{rhash:016x}", '
                f'{fields}{body}}}', _label(pos, neg))

    def land(
        self, out_dir: str, n_reviews: int, *, page_size: int,
        redeliver_share: float = 0.0,
    ) -> Landed:
        """Write ``n_reviews`` reviews as pages of ``page_size`` under
        ``out_dir`` (a page is one API response).

        ``redeliver_share`` of them are copies of reviews landed by an
        earlier call (the reference re-fetches page 0 every run).
        """
        rng = self._rng
        os.makedirs(out_dir, exist_ok=True)
        n_old = min(int(n_reviews * redeliver_share), len(self._delivered))
        recs = rng.sample(self._delivered, n_old) if n_old else []
        recs += [self._new_review() for _ in range(n_reviews - n_old)]
        rng.shuffle(recs)
        out = Landed()
        for lo in range(0, len(recs), page_size):
            page = recs[lo:lo + page_size]
            rendered = [self._render(r) for r in page]
            body = (f'{{"count": {len(page)}, "result": ['
                    + ", ".join(js for js, _ in rendered)
                    + '], "sort_options": []}')
            self._next_page += 1
            corrupt = self._next_page % CORRUPT_EVERY == 0
            if corrupt:
                body = body[: len(body) // 2]  # truncated in transit
                out.corrupt_pages += 1
            path = os.path.join(out_dir, f"page-{self._next_page:06d}.json")
            with open(path, "w") as f:
                f.write(body)
            out.pages.append(path)
            if corrupt:
                continue
            for r, (_, want) in zip(page, rendered):
                out.expected[r[0]] = want
            self._delivered.extend(page)
        return out


def write_documents(out_dir: str, seed: int, n_docs: int) -> str:
    """A ``documents`` parquet file shaped like testdata.

    Documents draw words from a small vocabulary, so near-duplicate
    pairs exist, plus an injected share of lightly edited copies.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 7919 + 1)
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.1:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 10)):
                words[rng.randrange(len(words))] = rng.choice(_DOC_VOCAB)
        else:
            words = [rng.choice(_DOC_VOCAB)
                     for _ in range(rng.randint(8, 80))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_DOC_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 97}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(docs, path)
    return path
