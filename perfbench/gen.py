"""Seeded input generators for the three benchmark workloads.

Every generator is pure Python driven by one ``random.Random`` seeded
from ``"<workload>:<seed>"``, and writes its tables with pyarrow (no
Spark), so the same seed gives byte-identical parquet files.  The
program under test sees only those files: the input table, the alias
table and the tagger dictionary.  The planted gold mentions stay in the
benchmark process for the output checks.

Every workload parameter lives in ``PARAMS`` (see perfbench/README.md),
so a claim can cite the inputs it was measured on.
"""

from __future__ import annotations

import json
import random
import string
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# Seed 0 is never used by a timed run; keep it for checking a claim on
# inputs nobody tuned against.
HELD_OUT_SEED = 0

PARAMS = {
    "kg_crawl": {
        "pages": 4000, "sentences_per_page": [1, 5],
        "non_en_every": 11, "vocabulary": "fixed 18 surfaces, 19 alias rows",
        "recall_hole_rate": 0.01, "precision_trap_rate": 0.004,
    },
    "kg_link": {
        "pages": 300, "sentences_per_page": [2, 6], "entities": 10000,
        "name_tokens": 2, "name_token_letters": [5, 8],
        "misspelled_share": 0.2, "chain_ids": 5, "chained_entity_share": 0.3,
        "unlinkable_share": 0.01,
    },
    "curate_assemble": {
        "docs": 400, "tokens_per_doc": [60, 140], "vocabulary": 20000,
        "stopword_share": 0.08,
        "exact_dup_share": 0.08, "near_dup_share": 0.08,
        "boilerplate_share": 0.25, "blocked_domain_share": 0.05,
        "blocked_term_share": 0.03, "chunk_size": 32, "budget": 500,
    },
}

INPUT_FILES = 8   # input table files: two per core of local[4]
BLOCKED_DOMAINS = ("spamfarm.test",)
BLOCKED_TERMS = ("casino",)
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
LABELS = ("PER", "ORG", "LOC", "MISC")
PREDICATES = ("met", "visited", "founded", "joined", "left")
FILLER = (
    "the a said met visited near founded by in at with today yesterday "
    "market report game storm press result talks deal plan city bank "
    "group week year vote race show court rule trade fund team"
).split()

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
ALIASES_SCHEMA = pa.schema([
    pa.field("alias_norm", pa.string(), False),
    pa.field("entity_id", pa.string(), False),
    pa.field("entity_type", pa.string(), False),
    pa.field("prior", pa.float64(), False),
])
DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64(), False),
    pa.field("url", pa.string(), False),
    pa.field("text", pa.string(), False),
])


@dataclass
class Inputs:
    """Paths of the generated files plus what the checks need."""
    input_path: str
    aliases_path: str | None = None
    dictionary_path: str | None = None
    gold_mentions: set = field(default_factory=set)
    props: dict = field(default_factory=dict)


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def _write(rows: dict, schema: pa.Schema, path: Path, files: int = 1) -> int:
    """Write ``rows`` as ``files`` parquet files of contiguous row
    ranges under the directory ``path``; returns the bytes written.
    Several files give the scan one task per file, as a crawl would."""
    path.mkdir(parents=True, exist_ok=True)
    table = pa.table(rows, schema=schema)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       path / f"part-{k:05d}.parquet", compression="snappy")
    return sum(f.stat().st_size for f in path.iterdir())


def _write_dictionary(dictionary: dict, path: Path) -> None:
    path.write_text(json.dumps(sorted([" ".join(k), v]
                                      for k, v in dictionary.items())))


def load_dictionary(path: str) -> dict:
    return {tuple(k.split(" ")): v for k, v in json.loads(Path(path).read_text())}


def _html(sentences: list[list[str]]) -> bytes:
    text = "\n".join(" ".join(s) for s in sentences)
    return f"<html><body><p>{text}</p></body></html>".encode()


# -- KG workloads ------------------------------------------------------------

class _Page:
    """Accumulates one page's sentences and its planted gold mentions."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.sentences: list[list[str]] = []
        self.gold: list[tuple] = []       # (sent_id, start, end, label)
        self.mentions = 0

    def sentence(self, pick, pair: bool, trap: str | None, trap_rate: float):
        rng, toks = self.rng, []

        def fill(n):
            for _ in range(n):
                toks.append(trap if trap and rng.random() < trap_rate
                            else rng.choice(FILLER))

        sid = len(self.sentences)
        fill(rng.randint(1, 4))
        n_ents = 2 if pair else rng.choice((0, 1, 1, 2))
        for i in range(n_ents):
            label, surface = pick()
            start = len(toks)
            toks.extend(surface.split(" "))
            self.gold.append((sid, start, len(toks) - 1, label))
            self.mentions += 1
            if i == 0 and n_ents == 2:
                toks.append(rng.choice(PREDICATES))
            else:
                fill(rng.randint(1, 3))
        fill(rng.randint(0, 2))
        self.sentences.append(toks)


def _pages_table(pages: list[tuple[str, str, list[list[str]]]], path: Path) -> int:
    return _write({
        "url": [u for u, _, _ in pages],
        "warc_ts": [EPOCH + timedelta(seconds=61 * i) for i in range(len(pages))],
        "html": [_html(s) for _, _, s in pages],
        "text": [None] * len(pages),
        "lang": [lang for _, lang, _ in pages],
    }, PAGES_SCHEMA, path, INPUT_FILES)


CRAWL_ENTITIES = {
    "PER": ["Hana Okafor", "Lior Benet", "Maya Quist", "Tomas Reyne",
            "Ines Dorsey"],
    "ORG": ["Korvex Labs", "Pellam Group", "Dunmore Bank", "Vantor",
            "Halden Works"],
    "LOC": ["Ashford", "Port Selwyn", "Mirren Vale", "Calder", "Kelso"],
    "MISC": ["Summit Cup", "Harvest Fair", "Spring Open"],
}
CRAWL_HOT = ("ORG", "Vantor")
CRAWL_RECALL_HOLE = ("MISC", "Tide Games")   # gold, unknown to the tagger
CRAWL_TRAP = ("ORG", "Brevik")               # tagged, never gold


def gen_kg_crawl(seed: int, out: Path) -> Inputs:
    """Many small pages over a fixture-sized vocabulary: extraction,
    tagging, decode and the sinks carry the job; linking and CC see a
    handful of nodes."""
    p = PARAMS["kg_crawl"]
    rng = _rng("kg_crawl", seed)
    entities = [(lab, s) for lab, ss in CRAWL_ENTITIES.items() for s in ss]

    def pick():
        r = rng.random()
        if r < 0.3:
            return CRAWL_HOT
        if r < 0.3 + p["recall_hole_rate"]:
            return CRAWL_RECALL_HOLE
        return rng.choice(entities)

    pages, gold, n_sent, n_ment = [], set(), 0, 0
    for i in range(p["pages"]):
        url = f"https://site{i % 13}.test/page/{i}"
        lang = "de" if i % p["non_en_every"] == 0 else "en"
        pg = _Page(rng)
        for j in range(rng.randint(*p["sentences_per_page"])):
            pg.sentence(pick, j == 0 and rng.random() < 0.7,
                        CRAWL_TRAP[1], p["precision_trap_rate"])
        pages.append((url, lang, pg.sentences))
        if lang == "en":
            n_sent += len(pg.sentences)
            n_ment += pg.mentions
            gold.update((url, sid, s, e, lab) for sid, s, e, lab in pg.gold)

    aliases = [(s.lower(), f"Q-{k:05d}", lab, 1.0)
               for k, (lab, s) in enumerate(entities, 1)]
    aliases.append(("pellam group", "Q-90002", "ORG", 0.25))   # ambiguous
    dictionary = {tuple(s.lower().split(" ")): lab for lab, s in entities}
    dictionary[(CRAWL_TRAP[1].lower(),)] = CRAWL_TRAP[0]
    inp = _kg_files(out, pages, aliases, dictionary)
    inp.gold_mentions = gold
    inp.props = {"pages": len(pages), "sentences": n_sent, "mentions": n_ment,
                 "distinct_surfaces": len(entities) + 2,
                 "misspelled_share": 0.0,
                 "ambiguous_alias_share": _ambiguous_share(aliases),
                 "input_bytes": inp.props["input_bytes"]}
    return inp


# a large alphabet keeps char 3-gram sharing between unrelated names
# rare, which bounds the LSH fan-out of a misspelled surface (Latin plus
# Greek lowercase; sigma is left out for its context-dependent final form)
ALPHABET = string.ascii_lowercase + "αβγδεζηθικλμνξοπρτυφχψω"


def _name(rng: random.Random, lo: int, hi: int, alphabet: str = ALPHABET) -> str:
    return "".join(rng.choice(alphabet)
                   for _ in range(rng.randint(lo, hi))).capitalize()


def _misspell(rng: random.Random, surface: str) -> str:
    """One letter substituted inside one token (never the first letter,
    so the tagger's capitalized form and the token count survive)."""
    toks = surface.split(" ")
    t = rng.randrange(len(toks))
    w = toks[t]
    i = rng.randrange(1, len(w))
    c = rng.choice([x for x in ALPHABET if x != w[i]])
    toks[t] = w[:i] + c + w[i + 1:]
    return " ".join(toks)


def gen_kg_link(seed: int, out: Path) -> Inputs:
    """Fewer pages over a large random-letter vocabulary: misspelled
    mentions go through LSH, alias ambiguity chains give CC several
    rounds, and a few unlinkable surfaces take the S- fallback."""
    p = PARAMS["kg_link"]
    rng = _rng("kg_link", seed)
    lo, hi = p["name_token_letters"]
    names, seen = [], set()
    while len(names) < p["entities"]:
        n = " ".join(_name(rng, lo, hi) for _ in range(p["name_tokens"]))
        if n.lower() not in seen:
            seen.add(n.lower())
            names.append(n)
    labels = [rng.choice(LABELS) for _ in names]
    ids = [f"Q-{k:06d}" for k in range(1, len(names) + 1)]
    aliases = [(n.lower(), e, lab, 1.0) for n, e, lab in zip(names, ids, labels)]
    # ambiguity chains: alias of id k also names id k+1 (lower prior),
    # so a chain of ``chain_ids`` ids is one path in the CC edge graph
    n_chained = int(len(names) * p["chained_entity_share"])
    c = p["chain_ids"]
    for start in range(0, n_chained - c + 1, c):
        for k in range(start, start + c - 1):
            aliases.append((names[k].lower(), ids[k + 1], labels[k + 1], 0.5))

    dictionary = {tuple(n.lower().split(" ")): lab for n, lab in zip(names, labels)}
    unlinkable = []
    while len(unlinkable) < 40:
        # a different letter-count range keeps these far from every alias
        n = " ".join(_name(rng, 10, 12) for _ in range(p["name_tokens"]))
        if n.lower() not in seen:
            seen.add(n.lower())
            unlinkable.append(n)
            dictionary[tuple(n.lower().split(" "))] = "MISC"
    misspelled = set()

    def pick():
        r = rng.random()
        if r < p["unlinkable_share"]:
            return "MISC", rng.choice(unlinkable)
        k = rng.randrange(len(names))
        s = names[k]
        if r < p["unlinkable_share"] + p["misspelled_share"]:
            s = _misspell(rng, s)
            if s.lower() in seen and s not in misspelled:
                return labels[k], names[k]
            misspelled.add(s)
            dictionary.setdefault(tuple(s.lower().split(" ")), labels[k])
        return dictionary[tuple(s.lower().split(" "))], s

    pages, gold, n_sent, n_ment = [], set(), 0, 0
    n_missp = 0
    for i in range(p["pages"]):
        url = f"https://news{i % 17}.test/item/{i}"
        pg = _Page(rng)
        for j in range(rng.randint(*p["sentences_per_page"])):
            pg.sentence(pick, j == 0 and rng.random() < 0.7, None, 0.0)
        pages.append((url, "en", pg.sentences))
        n_sent += len(pg.sentences)
        n_ment += pg.mentions
        for sid, s, e, lab in pg.gold:
            gold.add((url, sid, s, e, lab))
            if " ".join(pg.sentences[sid][s:e + 1]) in misspelled:
                n_missp += 1
    inp = _kg_files(out, pages, aliases, dictionary)
    inp.gold_mentions = gold
    inp.props = {"pages": len(pages), "sentences": n_sent, "mentions": n_ment,
                 "entities": len(names), "alias_rows": len(aliases),
                 "distinct_surfaces": len(dictionary),
                 "misspelled_share": round(n_missp / max(n_ment, 1), 4),
                 "ambiguous_alias_share": _ambiguous_share(aliases),
                 "input_bytes": inp.props["input_bytes"]}
    return inp


def _ambiguous_share(aliases: list[tuple]) -> float:
    ids: dict[str, set] = {}
    for a, e, _, _ in aliases:
        ids.setdefault(a, set()).add(e)
    return round(sum(len(v) > 1 for v in ids.values()) / len(ids), 4)


def _kg_files(out: Path, pages, aliases, dictionary) -> Inputs:
    inp = Inputs(str(out / "pages"),
                 str(out / "aliases"), str(out / "dictionary.json"))
    nbytes = _pages_table(pages, Path(inp.input_path))
    _write({
        "alias_norm": [a for a, _, _, _ in aliases],
        "entity_id": [e for _, e, _, _ in aliases],
        "entity_type": [t for _, _, t, _ in aliases],
        "prior": [p for _, _, _, p in aliases],
    }, ALIASES_SCHEMA, Path(inp.aliases_path))
    _write_dictionary(dictionary, Path(inp.dictionary_path))
    inp.props = {"input_bytes": nbytes}
    return inp


# -- curation workload -------------------------------------------------------

STOP = ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"]
BOILERPLATE = ("we use cookies to improve your experience on this site and "
               "by continuing you agree to the terms of use").split()


def gen_curate_assemble(seed: int, out: Path) -> Inputs:
    """Multi-chunk documents with planted exact and near duplicates, a
    shared boilerplate run for the span dedup, and urls that hit the
    blocked domain and term lists.  No NER or linking.  Every share is
    an exact count (only which documents get it is drawn), so inputs of
    different seeds differ in content, not in composition."""
    p = PARAMS["curate_assemble"]
    rng = _rng("curate_assemble", seed)
    vocab = sorted({_name(rng, 3, 9, string.ascii_lowercase).lower()
                    for _ in range(p["vocabulary"])})
    n = p["docs"]
    n_exact = round(n * p["exact_dup_share"])
    n_near = round(n * p["near_dup_share"])
    n_orig = n - n_exact - n_near
    boiler = set(rng.sample(range(n_orig), round(n_orig * p["boilerplate_share"])))
    docs = []                                  # (kind, text)
    for i in range(n_orig):
        toks = []
        target = rng.randint(*p["tokens_per_doc"])
        while len(toks) < target:
            toks.extend(rng.choice(STOP) if rng.random() < p["stopword_share"]
                        else rng.choice(vocab)
                        for _ in range(rng.randint(6, 18)))
            toks[-1] += "."
        if i in boiler:
            at = rng.randrange(len(toks))
            toks[at:at] = BOILERPLATE
        docs.append(("orig", " ".join(toks)))
    for _ in range(n_exact):
        docs.append(("exact", docs[rng.randrange(n_orig)][1]))
    for _ in range(n_near):
        toks = docs[rng.randrange(n_orig)][1].split(" ")
        for _ in range(max(1, len(toks) // 50)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append(("near", " ".join(toks)))
    rng.shuffle(docs)
    n_dom = round(n * p["blocked_domain_share"])
    n_term = round(n * p["blocked_term_share"])
    blocked = rng.sample(range(n), n_dom + n_term)
    dom, term = set(blocked[:n_dom]), set(blocked[n_dom:])
    urls = [f"https://www.{BLOCKED_DOMAINS[0]}/p/{i}" if i in dom
            else f"https://blog{i % 7}.test/{BLOCKED_TERMS[0]}-{i}" if i in term
            else f"https://blog{i % 7}.test/post/{i}" for i in range(n)]
    texts = [t for _, t in docs]
    inp = Inputs(str(out / "docs"))
    nbytes = _write({"doc_id": list(range(n)), "url": urls, "text": texts},
                    DOCS_SCHEMA, Path(inp.input_path), INPUT_FILES)
    inp.props = {
        "docs": n,
        "sentences": sum(t.count(".") for t in texts),
        "tokens": sum(len(t.split(" ")) for t in texts),
        "exact_dup_share": n_exact / n,
        "near_dup_share": n_near / n,
        "input_bytes": nbytes,
    }
    return inp


GENERATORS = {
    "kg_crawl": gen_kg_crawl,
    "kg_link": gen_kg_link,
    "curate_assemble": gen_curate_assemble,
}


def generate(workload: str, seed: int, out: Path) -> Inputs:
    out.mkdir(parents=True, exist_ok=True)
    return GENERATORS[workload](seed, out)
