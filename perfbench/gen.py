"""Seeded raw-tweet generator for the benchmark.

Writes Twitter v1.1-shaped status JSON, one object per line, and returns the
ground truth the checks need. It imports nothing from the engine package, so
a change to the engine cannot change its inputs; the hiring phrases below are
data copied from the reference vocabulary, not an import.

Every property the engine's behaviour depends on has a stated share:

- ``hiring_share``: orgs whose text holds a hiring phrase. The rest are
  dropped by the preprocess filter, so this is its selectivity.
- ``sensitive_share``: orgs flagged ``possibly_sensitive``; always dropped.
- ``reobserve_share``: raw statuses that re-observe an earlier org as a
  retweet or quote with later time and higher counts (latest-wins dedup).
- ``neardup_share``: orgs that repost another org's text verbatim under a
  new id and author; the serve-loop gate suppresses them from the index.
- ``truncated_share``: orgs whose full text and hashtags sit only in
  ``extended_tweet``.
- ``zipf_s`` over ``vocab_size`` words: posting-list lengths and the skew of
  keyword queries drawn from the same distribution.

Vocabulary words are consonant-vowel syllables over letters that cannot
spell any hiring phrase, so the filter keeps exactly the orgs given one.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
import re
import time
from dataclasses import dataclass, field

HIRING_PHRASES = (
    "hiring",
    "recruit",
    "job opening",
    "job opportunity",
    "we are looking for",
    "we're looking for",
    "join our team",
    "apply now",
    "apply today",
    "career opportunity",
    "now accepting applications",
    "open position",
    "vacancy",
    "send your resume",
    "send your cv",
)
_HIRING_RE = re.compile("|".join(HIRING_PHRASES))
_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_DAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
EPOCH = 1_600_000_000  # 2020-09-13 12:26:40 UTC; all statuses are after it


@dataclass(frozen=True)
class GenParams:
    n_users: int = 300
    vocab_size: int = 3000
    zipf_s: float = 1.05
    words_min: int = 10
    words_max: int = 22
    n_tags: int = 120
    hiring_share: float = 0.6
    sensitive_share: float = 0.03
    reobserve_share: float = 0.3
    neardup_share: float = 0.05
    truncated_share: float = 0.2


def twitter_time(epoch_s: int) -> str:
    t = time.gmtime(epoch_s)
    return (
        f"{_DAYS[t.tm_wday]} {_MONTHS[t.tm_mon - 1]} {t.tm_mday:02d} "
        f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d} +0000 {t.tm_year}"
    )


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
        for _ in range(rng.randint(2, 4))
    )


class Zipf:
    """Draws ranks 0..n-1 with probability proportional to 1/(rank+1)^s."""

    def __init__(self, n: int, s: float) -> None:
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def draw(self, rng: random.Random) -> int:
        return self.at(rng.random())

    def at(self, u: float) -> int:
        """The rank at quantile ``u`` in [0, 1)."""
        return bisect.bisect_left(self.cum, u * self.cum[-1])


def quantile(k: int, stream: int) -> float:
    """The k-th point of a golden-ratio low-discrepancy sequence; ``stream``
    shifts it so two streams do not move in step."""
    return (k * 0.6180339887498949 + stream * 0.7548776662466927) % 1.0


@dataclass
class Org:
    """One original status and what the checks need to know about it."""

    org_id: int
    author: int
    created: int
    text: str
    tags: list[str]
    admissible: bool
    neardup_of: int | None = None
    sensitive: bool = False
    truncated: bool = False
    counts: list[int] = field(default_factory=lambda: [0, 0, 0, 0])


class Corpus:
    """Generator state for one seed: vocabulary, users, tags, and every org
    emitted so far (across files), so later files can re-observe and copy
    earlier orgs and the truth accumulates across micro-batches."""

    def __init__(self, seed: int, params: GenParams = GenParams()) -> None:
        self.p = params
        self.rng = random.Random(seed)
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < params.vocab_size:
            w = _word(self.rng)
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.vocab = words
        self.tags = [f"tag{_word(self.rng)}{i}" for i in range(params.n_tags)]
        self.users = [
            {
                "id": 10_000 + u,
                "name": f"User {_word(self.rng).title()}",
                "screen_name": f"u{u}{_word(self.rng)}",
                "verified": u % 17 == 0,
                "profile_image_url": f"http://img.example/{u}.png",
                "profile_banner_url": None,
                "profile_background_image_url": None,
                "followers_count": 10 * u + 3,
                "friends_count": u + 1,
            }
            for u in range(params.n_users)
        ]
        self.word_zipf = Zipf(params.vocab_size, params.zipf_s)
        self.tag_zipf = Zipf(params.n_tags, 1.0)
        self.user_zipf = Zipf(params.n_users, 0.8)
        self.orgs: list[Org] = []
        self.next_id = 1_000_000_000 + 1_000_000 * (seed % 1000)
        self.clock = EPOCH

    # -- text --------------------------------------------------------------
    def words(self, n: int) -> list[str]:
        return [self.vocab[self.word_zipf.draw(self.rng)] for _ in range(n)]

    def request_arg(self, route: str, k: int) -> str:
        """The argument of the k-th request of a route. Keyword queries take
        1-2 terms from the corpus' own Zipf law; hashtags and users are
        spread evenly over all tags and users. The draws are stratified
        (low-discrepancy quantiles, the same for every seed), so runs with
        different seeds ask for the same popularity ranks of different
        generated words."""
        if route == "hashtag":
            return self.tags[int(quantile(k, 3) * len(self.tags))]
        if route == "user":
            return self.users[int(quantile(k, 4) * len(self.users))]["screen_name"]
        terms = [self.vocab[self.word_zipf.at(quantile(k, 1))]]
        if k % 2:
            terms.append(self.vocab[self.word_zipf.at(quantile(k, 2))])
        return " ".join(terms)

    def _hiring_phrase(self) -> str:
        ph = self.rng.choice(HIRING_PHRASES)
        r = self.rng.random()
        if r < 0.2:
            ph = ph.upper()
        elif r < 0.3:
            ph = ph.replace("'", "’")
        return ph

    def _new_org(self, text_words: list[str], hiring: bool, tags: list[str],
                 sensitive: bool = False, neardup_of: Org | None = None,
                 text: str | None = None) -> Org:
        self.next_id += 1
        self.clock += 1
        if neardup_of is not None:
            text, tags, hiring = neardup_of.text, neardup_of.tags, True
        elif text is None:
            if hiring:
                text_words.insert(self.rng.randrange(len(text_words) + 1),
                                  self._hiring_phrase())
            text = " ".join(text_words + [f"#{t}" for t in tags])
        if not hiring and _HIRING_RE.search(text.lower()):
            raise AssertionError(f"non-hiring text matches the filter: {text!r}")
        author = self.user_zipf.draw(self.rng)
        org = Org(
            org_id=self.next_id,
            author=author,
            created=self.clock,
            text=text,
            tags=list(tags),
            admissible=hiring and not sensitive,
            neardup_of=neardup_of.org_id if neardup_of is not None else None,
            sensitive=sensitive,
            truncated=self.rng.random() < self.p.truncated_share,
            counts=[self.rng.randint(0, 5) for _ in range(4)],
        )
        self.orgs.append(org)
        return org

    def _status(self, org: Org) -> dict:
        """The org rendered as a status object (top-level or nested)."""
        user = self.users[org.author]
        full_ents = {
            "hashtags": [{"text": t} for t in org.tags],
            "urls": [{"expanded_url": f"https://jobs.example/{org.org_id}"}],
            "user_mentions": [],
        }
        media = {"media": [{
            "media_url": f"http://media.example/{org.org_id}.jpg",
            "expanded_url": f"https://media.example/{org.org_id}",
            "type": "photo",
        }]}
        st = {
            "id": org.org_id,
            "created_at": twitter_time(org.created),
            "text": org.text,
            "truncated": False,
            "possibly_sensitive": org.sensitive,
            "entities": full_ents,
            "extended_entities": media,
            "favorite_count": org.counts[0],
            "quote_count": org.counts[1],
            "reply_count": org.counts[2],
            "retweet_count": org.counts[3],
            "user": user,
            "lang": "en",
        }
        if org.truncated:
            st["truncated"] = True
            st["text"] = org.text[: max(1, len(org.text) // 2)] + "…"
            st["entities"] = {"hashtags": [], "urls": [], "user_mentions": []}
            st["extended_tweet"] = {
                "full_text": org.text,
                "entities": full_ents,
                "extended_entities": media,
            }
        return st

    def _observation(self, org: Org, kind: str) -> dict:
        """A raw sample of ``org``: itself, or a later retweet/quote of it
        carrying higher engagement counts."""
        if kind == "original":
            return self._status(org)
        self.clock += 1
        self.next_id += 1
        org.counts = [c + self.rng.randint(1, 9) for c in org.counts]
        sharer = self.users[self.user_zipf.draw(self.rng)]
        top = {
            "id": self.next_id,
            "created_at": twitter_time(self.clock),
            "truncated": False,
            "possibly_sensitive": False,
            "entities": {"hashtags": [], "urls": [], "user_mentions": []},
            "favorite_count": 0,
            "quote_count": 0,
            "reply_count": 0,
            "retweet_count": 0,
            "user": sharer,
            "lang": "en",
        }
        if kind == "retweet":
            top["text"] = f"RT @{self.users[org.author]['screen_name']}: {org.text[:60]}"
            top["is_quote_status"] = False
            top["retweeted_status"] = self._status(org)
        else:
            top["text"] = " ".join(self.words(5))
            top["is_quote_status"] = True
            top["quoted_status"] = self._status(org)
            top["quoted_status_permalink"] = {
                "expanded": f"https://twitter.example/s/{org.org_id}"
            }
        return top

    # -- files -------------------------------------------------------------
    def write_file(self, path: str, n_statuses: int, probe: str | None = None) -> dict:
        """Write ``n_statuses`` raw statuses to ``path``. ``probe`` plants one
        admissible, unique-text org holding that token. Returns the file's
        truth: its admissible org ids and the probe org id."""
        p, rng = self.p, self.rng
        ids: set[int] = set()
        with open(path, "w", encoding="utf-8") as f:
            def emit(status: dict, org: Org) -> None:
                f.write(json.dumps(status, separators=(",", ":")))
                f.write("\n")
                ids.add(org.org_id)

            probe_org = None
            if probe is not None:
                # every word 3-gram holds a unique token, so the serve-loop
                # gate cannot find a near-duplicate of the probe
                probe_org = self._new_org(
                    [], hiring=True, tags=[],
                    text=f"hiring {probe} {probe}a {probe}b {probe}c",
                )
                emit(self._observation(probe_org, "original"), probe_org)
            for _ in range(n_statuses - (probe is not None)):
                r = rng.random()
                if self.orgs and r < p.reobserve_share:
                    org = self.orgs[rng.randrange(len(self.orgs))]
                    kind = "retweet" if rng.random() < 0.7 else "quote"
                    emit(self._observation(org, kind), org)
                    continue
                src = [o for o in self.orgs[-200:] if o.admissible and o.neardup_of is None]
                if src and rng.random() < p.neardup_share:
                    org = self._new_org([], True, [], neardup_of=rng.choice(src))
                else:
                    tags = sorted({self.tags[self.tag_zipf.draw(rng)]
                                   for _ in range(rng.randint(0, 3))})
                    org = self._new_org(
                        self.words(rng.randint(p.words_min, p.words_max)),
                        hiring=rng.random() < p.hiring_share,
                        tags=tags,
                        sensitive=rng.random() < p.sensitive_share,
                    )
                emit(self._observation(org, "original"), org)
        by_id = {o.org_id: o for o in self.orgs}
        return {
            "admissible": sorted(i for i in ids if by_id[i].admissible),
            "probe_id": probe_org.org_id if probe_org is not None else None,
        }

    # -- truth over a set of live org ids ------------------------------------
    def hashtag_counts(self, live: set[int]) -> dict[str, int]:
        out = {t: 0 for t in self.tags}
        for o in self.orgs:
            if o.org_id in live:
                for t in o.tags:
                    out[t] += 1
        return out

    def user_counts(self, live: set[int]) -> dict[str, int]:
        out = {u["screen_name"]: 0 for u in self.users}
        for o in self.orgs:
            if o.org_id in live:
                out[self.users[o.author]["screen_name"]] += 1
        return out
