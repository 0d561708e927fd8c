"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, another seed gives other inputs.  Noise is planted
*stratified*: record ``i`` gets noise pattern ``i % len(PATTERNS)`` while
names, dates and which record carries which pattern come from the seed.
That keeps the share of hard cases -- and so ``result_quality`` -- nearly
the same on every seed, while the values themselves change.

Only the stdlib, numpy and the repository's own encoders are used.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# shared vocabularies
# ---------------------------------------------------------------------------

UMLAUT_SURNAMES = [
    "Müller", "Schröder", "Köhler", "Böhm", "Krüger", "Jäger", "Günther",
    "König", "Bäcker", "Förster", "Möller", "Schäfer", "Hübner", "Kühn",
]
PLAIN_SURNAMES = [
    "Schmidt", "Schneider", "Fischer", "Weber", "Meyer", "Wagner", "Becker",
    "Hoffmann", "Schulz", "Koch", "Richter", "Klein", "Wolf", "Neumann",
    "Schwarz", "Zimmermann", "Braun", "Hartmann", "Lange", "Werner",
    "Krause", "Lehmann", "Walter", "Peters", "Kaiser", "Fuchs", "Scholz",
    "Vogel", "Friedrich", "Keller", "Roth", "Beck", "Lorenz", "Baumann",
    "Franke", "Albrecht", "Winter", "Ludwig", "Simon", "Kraus", "Winkler",
]
FIRST_NAMES = [
    "Anna", "Maria", "Elisabeth", "Margarete", "Gertrud", "Hedwig", "Helene",
    "Johanna", "Martha", "Frieda", "Emma", "Klara", "Paula", "Berta",
    "Hans", "Karl", "Wilhelm", "Friedrich", "Heinrich", "Johann", "Otto",
    "Walter", "Paul", "Ernst", "Hermann", "Josef", "Franz", "Georg",
    "Kurt", "Richard", "Alfred", "Rudolf", "Bruno", "Emil", "Gustav",
]
PLACES = [
    "Berlin", "Hamburg", "Dresden", "Leipzig", "Breslau", "Stettin", "Posen",
    "Kassel", "Bremen", "Hannover", "Erfurt", "Weimar", "Gotha", "Jena",
    "Halle", "Magdeburg", "Potsdam", "Rostock", "Lübeck", "Kiel", "Krakau",
    "Prag", "Wien", "Linz", "Graz", "Brünn", "Lodz", "Warschau", "Riga",
]
CAMPS = ["Buchenwald", "Dachau", "Flossenbürg", "Neuengamme", "Ravensbrück",
         "Sachsenhausen", "Mauthausen", "Stutthof"]
_SYLLABLES = ["ber", "din", "gar", "hol", "kam", "lin", "mer", "nau", "ost",
              "pel", "ran", "sel", "tor", "wal", "zen", "bach", "dorf", "mann"]


def _swap_typo(rng: random.Random, s: str) -> str:
    """Swap two adjacent inner letters: Schmidt -> Schmdit."""
    if len(s) < 4:
        return s + s[-1]
    i = rng.randrange(1, len(s) - 2)
    return s[:i] + s[i + 1] + s[i] + s[i + 2:]


def _translit(s: str) -> str:
    return (s.replace("ä", "ae").replace("ö", "oe").replace("ü", "ue")
            .replace("Ä", "Ae").replace("Ö", "Oe").replace("Ü", "Ue")
            .replace("ß", "ss"))


def _strip_umlaut(s: str) -> str:
    return (s.replace("ä", "a").replace("ö", "o").replace("ü", "u")
            .replace("Ä", "A").replace("Ö", "O").replace("Ü", "U"))


def fold(s: str | None) -> str:
    """Comparison key for scoring: case- and umlaut-spelling-insensitive."""
    return _translit((s or "").strip()).lower()


# ---------------------------------------------------------------------------
# enc_consensus: crowd transcriptions of prisoner record cards
# ---------------------------------------------------------------------------

@dataclass
class EncTruth:
    last_name: str
    first_names: list[str]
    birth: tuple[str, str, str]  # (year, month, day), zero-padded
    prisoner_number: str
    place_of_birth: str


# Person resolution runs on the consensus rows: document ``d`` is the
# mention with id ``d``.  Register cards take ids from REGISTER_ID0 up,
# so a document's id is the minimum of its entity and names it.
PERSON_COLS = ["strGName_processed", "strLName_processed", "strDoB_processed",
               "prisoner_number", "strPoB_processed"]
REGISTER_ID0 = 1_000_000
N_CHAINS = 3


@dataclass
class EncInputs:
    rows: list[tuple[int, str, str, str]]  # (row_id, workflow_id, document_id, json_data)
    truth: dict[str, EncTruth] = field(default_factory=dict)
    register: list[tuple] = field(default_factory=list)  # (person_id, entity, *PERSON_COLS)
    entity_of: dict[int, int] = field(default_factory=dict)  # mention id -> planted entity


# Per-document conflict menus: which transcription copies get which
# variant.  Every menu keeps the planted truth in the majority for the
# scored fields except the last, which plants a genuine 1:1:1 conflict
# on the last name that no consensus can resolve.
ENC_PATTERNS = [
    "clean",
    "umlaut_variants",
    "title_prefix",
    "unpadded_dates",
    "unklar_markers",
    "multi_value",
    "dash_markers",
    "typo_minority",
    "missing_minority",
    "conflict",
]


def _enc_payload(categories, number, imp, pob, bd, first, last) -> str:
    """One transcription in the repeat-group shape of the reference's
    Zooniverse export (see tests/fixtures/enc_fixture.py)."""
    return json.dumps(
        {
            "prisoner_category_repeat": [{"prisoner_category": c} for c in categories],
            "prisoner_number_repeat": [{"prisoner_number": number}],
            "imprisonment_repeat": [{
                "imprisonment_year": imp[0], "imprisonment_month": imp[1],
                "imprisonment_day": imp[2], "imprisonment_camp": imp[3],
            }],
            "place_of_birth_repeat": [{"place_of_birth": p} for p in pob],
            "birthdate_repeat": [{
                "birthdate_year": bd[0], "birthdate_month": bd[1],
                "birthdate_day": bd[2],
            }],
            "first_name_repeat": [{"first_name": f} for f in first],
            "last_name_repeat": [{"last_name": last}],
        },
        ensure_ascii=False,
    )


def _quota(rng: random.Random, names: list[str], weights: list[float], n: int) -> list[str]:
    """``n`` draws whose per-name counts follow ``weights`` exactly
    (largest remainder); only their order comes from ``rng``.  Random
    draws would let the hot blocks -- and the matching work -- swing by
    about a tenth from seed to seed."""
    total = sum(weights)
    exact = [w * n / total for w in weights]
    counts = [int(x) for x in exact]
    by_remainder = sorted(range(len(names)), key=lambda i: counts[i] - exact[i])
    for i in by_remainder[: n - sum(counts)]:
        counts[i] += 1
    out = [name for name, c in zip(names, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def gen_enc(seed: int, n_docs: int) -> EncInputs:
    rng = random.Random(f"enc:{seed}")
    # Zipf surname counts by fixed quota: hot blocking keys on every seed
    surnames = PLAIN_SURNAMES + UMLAUT_SURNAMES
    lasts = _quota(rng, surnames, [1.0 / (r + 1) for r in range(len(surnames))], n_docs)
    numbers = rng.sample(range(1000, 200000), n_docs)  # unique: no accidental merges
    out = EncInputs(rows=[])
    order = list(range(n_docs))
    rng.shuffle(order)  # which document carries which pattern
    row_id = 0
    for d in range(n_docs):
        pattern = ENC_PATTERNS[order[d] % len(ENC_PATTERNS)]
        last = lasts[d]
        if pattern == "umlaut_variants" and last not in UMLAUT_SURNAMES:
            last = rng.choice(UMLAUT_SURNAMES)
        firsts = [rng.choice(FIRST_NAMES)]
        if pattern == "multi_value" or rng.random() < 0.2:
            firsts.append(rng.choice(FIRST_NAMES))
        by, bm, bday = str(rng.randint(1880, 1930)), rng.randint(1, 12), rng.randint(1, 28)
        iy, im, iday = str(rng.randint(1939, 1945)), rng.randint(1, 12), rng.randint(1, 28)
        number = str(numbers[d])
        camp = rng.choice(CAMPS)
        pob = [rng.choice(PLACES)]
        cats = [str(rng.randint(1, 9)) for _ in range(rng.randint(1, 3))]
        doc_id = f"do_{seed % 100000:05d}_{d:06d}"
        out.truth[doc_id] = EncTruth(
            last, list(firsts), (by, f"{bm:02d}", f"{bday:02d}"), number, pob[0]
        )
        n_copies = 3 + (d % 3)  # 3..5 transcriptions per document
        for k in range(n_copies):
            l_, f_ = last, list(firsts)
            bd = (by, f"{bm:02d}", f"{bday:02d}")
            imp = [iy, f"{im:02d}", f"{iday:02d}", camp]
            num, p_, c_ = number, list(pob), list(cats)
            minority = k == n_copies - 1  # the copy that disagrees
            if pattern == "umlaut_variants":
                l_ = (_translit(last), _strip_umlaut(last), last)[k % 3]
            elif pattern == "title_prefix" and k % 2 == 0:
                f_[0] = rng.choice(["Dr.", "Dr. ", "Prof. "]) + f_[0]
            elif pattern == "unpadded_dates" and k % 2 == 1:
                bd = (by, str(bm), str(bday))
                imp[1] = str(im)
            elif pattern == "unklar_markers" and k % 2 == 0:
                imp[3] = "Unklar"
            elif pattern == "multi_value" and k % 2 == 1:
                f_ = [" ".join(firsts)]  # both given names in one cell
                p_ = p_ + [rng.choice(PLACES)] if minority else p_
            elif pattern == "dash_markers" and minority:
                bd = ("-", "-", "-")
                p_ = ["-"]
            elif pattern == "typo_minority" and minority:
                l_ = _swap_typo(rng, last)
                num = num[:-1] + str((int(num[-1]) + 1) % 10)
            elif pattern == "missing_minority" and minority:
                l_, num = None, None
                bd = (None, None, None)
            elif pattern == "conflict":
                l_ = (last, rng.choice(PLAIN_SURNAMES) + "a", rng.choice(PLAIN_SURNAMES) + "o",
                      last + "er", last + "i")[k]
            if rng.random() < 0.1:
                c_ = c_ + [str(rng.randint(1, 9))]  # stray extra category
            wf = f"wo_{(d // 500):03d}"
            out.rows.append((
                row_id, wf, doc_id,
                _enc_payload(c_, num, imp, p_, bd, f_, l_),
            ))
            row_id += 1
    _enc_register(rng, out)
    return out


def _enc_register(rng: random.Random, out: EncInputs) -> None:
    """The person register the consensus rows are resolved against, in
    the processed (folded) form the matching code expects."""
    truths = list(out.truth.values())
    n_docs = len(truths)
    next_id = REGISTER_ID0

    def card(entity: int, g: str, l_: str, dob: str, num: str, pob: str) -> None:
        nonlocal next_id
        out.register.append((next_id, entity, fold(g), fold(l_), dob, num, fold(pob)))
        out.entity_of[next_id] = entity
        next_id += 1

    def dob() -> str:
        return f"{rng.randint(1880, 1930)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"

    # a tenth of the documented persons have no card, a twentieth have
    # two (the second without place of birth); half the cards carry the
    # prisoner number
    order = list(range(n_docs))
    rng.shuffle(order)
    for d, t in enumerate(truths):
        out.entity_of[d] = d
        if order[d] % 10 == 0:
            continue
        num = t.prisoner_number if order[d] % 2 else ""
        birth = "".join(t.birth)
        card(d, t.first_names[0], t.last_name, birth, num, t.place_of_birth)
        if order[d] % 20 == 1:
            card(d, t.first_names[0], t.last_name, birth, num, "")
    # persons no document mentions
    for _ in range(n_docs // 4):
        card(next_id, rng.choice(FIRST_NAMES), rng.choice(PLAIN_SURNAMES + UMLAUT_SURNAMES),
             dob(), "", rng.choice(PLACES))
    # Alias chains: one prisoner's cards filed under two names, linked
    # only by a shared prisoner number: x0 -A- x1 ~ x2.  The chain end
    # x0 holds the minimum id, so connected components needs two
    # propagation hops on every seed; an accidental merge of two persons
    # rarely reaches further, and would otherwise make the round count
    # (and run time) depend on the seed.
    for _ in range(N_CHAINS):
        entity = next_id
        names = [(rng.choice(FIRST_NAMES), "".join(rng.choice(_SYLLABLES) for _ in range(4)),
                  dob(), rng.choice(PLACES)) for _ in range(2)]
        num = str(rng.randint(1_000_000, 9_999_999))
        for person, n in ((0, num), (1, num), (1, "")):
            g, l_, birth, pob = names[person]
            card(entity, g, l_, birth, n, pob)


# ---------------------------------------------------------------------------
# scan_index: record-card scans (JPEG page + PDF text layer) in tar shards
# ---------------------------------------------------------------------------

SCAN_PATTERNS = ["plain", "compressed", "plain", "hex", "exact_dup",
                 "plain", "compressed", "rescan", "plain", "rescan"]


@dataclass
class ScanInputs:
    members: list[tuple[int, str, bytes]]  # (sample id, member name, bytes)
    page_text: dict[int, str] = field(default_factory=dict)
    dup_pairs: set[tuple[int, int]] = field(default_factory=set)


def _card_text(rng: random.Random, sid: int) -> str:
    words = ["akte", "vermerk", "transport", "block", "arbeit", "lazarett",
             "entlassen", "verlegt", "zugang", "kommando", "revier", "schreibstube",
             "nachweis", "kartei", "nummer", "liste", "abgang", "bericht"]
    g = _translit(rng.choice(FIRST_NAMES))
    l_ = _translit(rng.choice(PLAIN_SURNAMES + UMLAUT_SURNAMES))
    remark = " ".join(rng.choice(words) + str(rng.randint(0, 99)) for _ in range(24))
    return (
        f"Karteikarte {sid} Name {l_} {g} geboren {rng.randint(1, 28)}.{rng.randint(1, 12)}."
        f"{rng.randint(1880, 1930)} in {_translit(rng.choice(PLACES))} "
        f"Haeftlingsnummer {rng.randint(1000, 199999)} Lager {_translit(rng.choice(CAMPS))} "
        f"Bemerkung {remark}"
    )


def _card_image(rng: np.random.Generator, h: int = 32, w: int = 48) -> np.ndarray:
    """Light card stock with faint grain and a few dark text-line bars."""
    img = rng.integers(226, 234, size=(h, w), dtype=np.uint8)
    for _ in range(5):
        y, x = int(rng.integers(2, h - 4)), int(rng.integers(2, w // 2))
        img[y:y + 2, x:x + int(rng.integers(8, w - x))] = rng.integers(0, 80)
    return img


def gen_scan(seed: int, n_samples: int) -> ScanInputs:
    """``n_samples`` scans, each a ``.jpg`` page and a one-page ``.pdf``
    text layer.  ``exact_dup`` samples repeat an earlier sample's bytes
    under a new key; ``rescan`` samples re-scan an earlier card with a
    new image and one remark word changed.  Both kinds are the planted
    near-duplicate pairs."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.pdfscan import build_pdf_with_text

    rng = random.Random(f"scan:{seed}")
    nrng = np.random.default_rng(rng.getrandbits(64))
    out = ScanInputs(members=[])
    order = list(range(n_samples))
    rng.shuffle(order)
    originals: list[int] = []
    families: dict[int, list[int]] = {}
    blobs: dict[int, tuple[bytes, bytes]] = {}
    for sid in range(n_samples):
        pattern = SCAN_PATTERNS[order[sid] % len(SCAN_PATTERNS)]
        if pattern in ("exact_dup", "rescan") and originals:
            src = rng.choice(originals)
            if pattern == "exact_dup":
                jpg, pdf = blobs[src]
                text = out.page_text[src]
            else:
                toks = out.page_text[src].split(" ")
                i = rng.randrange(len(toks) - 24, len(toks))
                toks[i] = "nachtrag" + str(rng.randint(0, 99))
                text = " ".join(toks)
                jpg = encode_baseline_jpeg(_card_image(nrng), quality=75)
                pdf = build_pdf_with_text([text])
            families.setdefault(src, [src]).append(sid)
        else:
            text = _card_text(rng, sid)
            jpg = encode_baseline_jpeg(_card_image(nrng), quality=75)
            pdf = build_pdf_with_text(
                [text], compress=pattern == "compressed", hex_strings=pattern == "hex"
            )
            originals.append(sid)
        blobs[sid] = (jpg, pdf)
        out.page_text[sid] = text
        out.members.append((sid, f"{sid:07d}.jpg", jpg))
        out.members.append((sid, f"{sid:07d}.pdf", pdf))
    # every two scans of one card are a near-duplicate pair, copies of
    # the same original included
    for fam in families.values():
        out.dup_pairs.update(
            (a, b) for i, a in enumerate(fam) for b in fam[i + 1:]
        )
    return out
