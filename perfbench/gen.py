"""Seeded input generators, one per input shape.

Everything here is plain Python over ``random.Random(seed)``: no Spark, no
call into ``mopper_spark``, so a change to the library's own synthetic
corpus (``pipeline.transcripts.synth_transcripts``) cannot move a workload.
The same seed always gives byte-identical inputs (``corpus_hash``).

- ``default_corpus``: the shape of today's synthetic corpus — 16 surface
  forms of 7 entities, one hot conversation holding 12% of the turns, a
  nullable ``tool`` column, and URI-reserved / unicode noise in the text.
- ``entity_corpus``: the same turn shape over a Zipf-distributed vocabulary
  of syllable-composed names.  Every entity is written in canonical,
  initial, middle-initial, upper-case, accent and lower-case variants, and
  every mention carries its gold entity id.  Surnames are unique per entity, so no two
  entities share a normalized form or an initial variant and pairwise
  precision/recall against gold is well defined.
- ``cli_sources`` / ``MAPPING_TTL``: the CSV sources and RML mapping the
  command-line path maps (turns star map + conversations, joined).
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass

# 16 surface forms of 7 entities (form, gold id)
DEFAULT_FORMS: list[tuple[str, int]] = [
    ("Venus Williams", 0),
    ("V. Williams", 0),
    ("venus williams", 0),
    ("Venus  Williams", 0),
    ("Demi Moore", 1),
    ("D. Moore", 1),
    ("Roger Federer", 2),
    ("roger federer", 2),
    ("René Müller", 3),
    ("Rene Müller", 3),
    ("Ada Lovelace", 4),
    ("A. Lovelace", 4),
    ("Grace Hopper", 5),
    ("grace hopper", 5),
    ("Alan Turing", 6),
    ("Alan M. Turing", 6),
]

FILLER = [
    "let me check the data for",
    "the pipeline failed while processing",
    "can you summarize what",
    "I ran the job and",
    "according to the logs,",
    "the result mentions",
    "we should ask",
    "deployment notes reference",
]

NOISE = [
    "",
    " see docs?q=1#frag",
    " path/to/file",
    " 100% done",
    " [ticket-42]",
    " {curly} \\slash",
    " naïve café ☕",
    " a+b=c; d,e",
]

TOOLS = ["search", "python", "browser", "calculator"]
ROLES = ["user", "assistant", "tool"]
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_SYLLABLES = [
    "ba", "ko", "ri", "tan", "mel", "vo", "sa", "len", "dor", "pi", "ka",
    "mu", "ne", "zu", "ral", "fe", "gi", "lo", "ver", "sun", "ta", "bel",
    "no", "mi", "ra", "do", "sel", "ku", "van", "te", "lin", "go", "har",
    "pe", "ni", "ros", "ma", "del", "cu", "wen",
]
_ACCENT = {"a": "á", "e": "é", "i": "í", "o": "ö", "u": "ü"}


@dataclass(frozen=True)
class Corpus:
    """Generated turns plus the gold entity id of each surface form."""

    rows: list[tuple]  # (conv_id, turn_idx, role, text, tool, ts, surface)
    gold: dict[str, int]  # surface form -> gold entity id

    @property
    def n_turns(self) -> int:
        return len(self.rows)


def _turns(rng: random.Random, surfaces: list[str], n_convs: int,
           skew_frac: float) -> list[tuple]:
    n = len(surfaces)
    skew_cut = int(n * skew_frac)
    n_other = max(n_convs - 1, 1)
    rows = []
    for i, surface in enumerate(surfaces):
        if i < skew_cut:
            conv, turn = 0, i
        else:
            j = i - skew_cut
            conv, turn = j % n_other + 1, j // n_other
        role = rng.choice(ROLES)
        tool = rng.choice(TOOLS) if role == "tool" else None
        text = f"{rng.choice(FILLER)} {surface}{rng.choice(NOISE)}"
        ts = EPOCH + dt.timedelta(seconds=conv * 86400 + turn * 7)
        rows.append((f"conv_{conv:05d}", turn, role, text, tool, ts, surface))
    return rows


def default_corpus(seed: int, n_turns: int, n_convs: int = 50,
                   skew_frac: float = 0.12) -> Corpus:
    rng = random.Random(f"default:{seed}")
    surfaces = [rng.choice(DEFAULT_FORMS)[0] for _ in range(n_turns)]
    return Corpus(_turns(rng, surfaces, n_convs, skew_frac), dict(DEFAULT_FORMS))


def vocabulary(rng: random.Random, n_entities: int) -> list[list[str]]:
    """Syllable-composed entities, each as its list of surface variants."""
    surnames: set[str] = set()
    entities = []
    while len(entities) < n_entities:
        last = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if last in surnames:
            continue
        surnames.add(last)
        first = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        first, last = first.capitalize(), last.capitalize()
        vowel = next(c for c in last if c in _ACCENT)
        accented = last.replace(vowel, _ACCENT[vowel], 1)
        middle = chr(ord("A") + rng.randrange(26))
        entities.append([
            f"{first} {last}",
            f"{first[0]}. {last}",
            f"{first} {middle}. {last}",
            f"{first} {last}".upper(),
            f"{first} {accented}",
            f"{first} {last}".lower(),
        ])
    return entities


def entity_corpus(seed: int, n_turns: int, n_entities: int,
                  zipf_s: float = 1.0, n_convs: int = 50,
                  skew_frac: float = 0.12) -> Corpus:
    rng = random.Random(f"entities:{seed}")
    vocab = vocabulary(rng, n_entities)
    cum, total = [], 0.0
    for rank in range(1, n_entities + 1):
        total += rank ** -zipf_s
        cum.append(total)
    picks = rng.choices(range(n_entities), cum_weights=cum, k=n_turns)
    surfaces = [rng.choice(vocab[e]) for e in picks]
    gold = {form: e for e, forms in enumerate(vocab) for form in forms}
    used = set(surfaces)
    return Corpus(
        _turns(rng, surfaces, n_convs, skew_frac),
        {form: e for form, e in gold.items() if form in used},
    )


def corpus_hash(corpus: Corpus) -> str:
    h = hashlib.sha256()
    for row in corpus.rows:
        h.update(repr(row).encode())
    return h.hexdigest()


def write_corpus_parquet(corpus: Corpus, path: str) -> None:
    """The transcripts table the pipeline reads (surface column dropped)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*corpus.rows))
    table = pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


MAPPING_TTL = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/ontology/> .

<#Turns> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "turns.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/turn/{turn_id}" ;
                  rr:class ex:Turn ;
                  rr:graphMap [ rr:template "http://example.com/graph/{role}" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:role ; rr:objectMap [ rml:reference "role" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:turnIdx ; rr:objectMap [ rml:reference "turn_idx" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:tool ; rr:objectMap [ rml:reference "tool" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:surface ; rr:objectMap [ rml:reference "mention" ] ] ;
  rr:predicateObjectMap [
    rr:predicate ex:mentions ;
    rr:objectMap [ rr:template "http://example.com/entity/{mention}" ]
  ] ;
  rr:predicateObjectMap [
    rr:predicate ex:inConversation ;
    rr:objectMap [ rr:parentTriplesMap <#Convs> ;
                   rr:joinCondition [ rr:child "conv_id" ; rr:parent "conv_id" ] ]
  ] .

<#Convs> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "convs.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/conv/{conv_id}" ;
                  rr:class ex:Conversation ] ;
  rr:predicateObjectMap [ rr:predicate ex:title ; rr:objectMap [ rml:reference "title" ] ] .
"""


def write_cli_sources(corpus: Corpus, directory: str) -> str:
    """turns.csv + convs.csv + mapping.ttl; returns the mapping path."""
    os.makedirs(directory, exist_ok=True)
    with open(os.path.join(directory, "turns.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["turn_id", "conv_id", "turn_idx", "role", "tool", "mention"])
        for conv, turn, role, _text, tool, _ts, surface in corpus.rows:
            w.writerow([f"{conv}-{turn}", conv, turn, role, tool or "", surface])
    convs = sorted({row[0] for row in corpus.rows})
    with open(os.path.join(directory, "convs.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["conv_id", "title"])
        for conv in convs:
            w.writerow([conv, f"Conversation {conv[5:]}"])
    path = os.path.join(directory, "mapping.ttl")
    with open(path, "w") as f:
        f.write(MAPPING_TTL)
    return path
