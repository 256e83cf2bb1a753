"""Seeded input generators and their ground truth.

Everything here is plain Python and never imports the package under
test: the truth it returns is computed from the same entity dicts it
serializes, so the checks in the workloads are independent of the
program.

Wikidata dumps follow the published ``latest-all.json`` layout: a ``[``
line, one entity per line with a trailing comma, a ``]`` line. They carry
every claim-value datatype the ingest decodes (plus novalue/somevalue
snaks) with qualifiers and references, multilingual labels, ~2%
properties and no lexemes, a few mega-entities with thousands of claims,
duplicate ids and malformed lines. Text is drawn from a seeded
Zipf-weighted vocabulary so that compressed sizes behave like real text.
"""

from __future__ import annotations

import heapq
import itertools
import json
import math
import os
import random
from dataclasses import dataclass, field

# --- vocabulary ---------------------------------------------------------------

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch dr gl kr pl sh st th tr".split()
_VOWELS = "a e i o u ae ai ea ie io ou".split()
_CODAS = [""] * 6 + "n r s t l m nd rk st".split()

# non-Latin scripts for some label languages, so labels are real unicode
_SCRIPTS = {
    "ru": str.maketrans("abcdefghijklmnopqrstuvwxyz", "абцдефгхийклмнопqрстуввхыз"),
    "ja": str.maketrans("abcdefghijklmnopqrstuvwxyz", "アブクデエフギハイジカルマノオパキラサトウヴワクヤズ"),
    "el": str.maketrans("abcdefghijklmnopqrstuvwxyz", "αβψδεφγηιξκλμνοπqρστθωςχυζ"),
}
LANGS = ("en", "de", "fr", "es", "it", "nl", "ru", "ja", "el", "pt")


class Vocab:
    """Seeded word list sampled with Zipf(1.1) weights."""

    def __init__(self, rng: random.Random, size: int = 6000):
        words: set[str] = set()
        while len(words) < size:
            n = rng.choice((1, 2, 2, 3, 3, 4))
            words.add(
                "".join(
                    rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
                    for _ in range(n)
                )
            )
        self.words = sorted(words)
        rng.shuffle(self.words)
        self.cum = list(itertools.accumulate(1.0 / (i + 1) ** 1.1 for i in range(size)))
        self.rng = rng

    def text(self, n: int) -> str:
        return " ".join(self.rng.choices(self.words, cum_weights=self.cum, k=n))


# --- wikidata entities ----------------------------------------------------------

# (pid, datatype): a property keeps one datatype, as in the real dump. The
# first ones are the properties the reference's SurrealQL scripts read.
P_EPISODES, P_SERIES, P_PARTS = 1113, 179, 527
_DATATYPES = (
    "wikibase-item", "wikibase-item", "wikibase-item", "string", "external-id",
    "external-id", "external-id", "quantity", "time", "time", "monolingualtext",
    "url", "commonsMedia", "globe-coordinate", "wikibase-property",
    "wikibase-lexeme", "wikibase-form", "wikibase-sense", "math", "geo-shape",
    "musical-notation", "tabular-data",
)
_UNITS = ("1", "1", "http://www.wikidata.org/entity/Q11573", "http://www.wikidata.org/entity/Q11570")


def _pid_datatype(pid: int) -> str:
    fixed = {31: "wikibase-item", P_SERIES: "wikibase-item", P_PARTS: "wikibase-item",
             P_EPISODES: "quantity", 585: "time", 1476: "monolingualtext", 1810: "string"}
    return fixed.get(pid) or _DATATYPES[(pid * 2654435761) % len(_DATATYPES)]


@dataclass
class Summary:
    """What the checks need from one entity, computed from its dict."""

    tb: str
    num: int
    label: str
    description: str
    n_claims: int  # flattened: main snaks + qualifier snaks
    p1113_sum: float  # quantity amounts of main P1113 claims
    first_p1113: float | None  # [0] of the P1113 claims, then .Quantity.amount
    episodes: float | None  # first non-NULL P1113 quantity amount
    parent: tuple | None  # first P179 Thing
    children: tuple  # P527 Things, in order
    p1113_thing: bool  # some main P1113 claim carries a Thing
    has_p1113: bool  # some main P1113 claim at all


_TB = {"Q": "Entity", "P": "Property", "L": "Lexeme"}


def _thing_of(snak: dict):
    if snak.get("snaktype") != "value" or snak["datatype"] not in (
        "wikibase-item", "wikibase-property", "wikibase-lexeme"
    ):
        return None
    v = snak["datavalue"]["value"]
    return (_TB[v["id"][0]], int(v["id"][1:]))


def _amount_of(snak: dict):
    if snak.get("snaktype") != "value" or snak["datatype"] != "quantity":
        return None
    return float(snak["datavalue"]["value"]["amount"])


def summarize(e: dict) -> Summary:
    n_claims = 0
    p1113 = []
    parent = None
    children = []
    for pid, statements in e["claims"].items():
        for st in statements:
            n_claims += 1 + sum(len(v) for v in st.get("qualifiers", {}).values())
            ms = st["mainsnak"]
            if pid == f"P{P_EPISODES}":
                p1113.append(ms)
            elif pid == f"P{P_SERIES}" and parent is None:
                parent = _thing_of(ms)
            elif pid == f"P{P_PARTS}":
                t = _thing_of(ms)
                if t is not None:
                    children.append(t)
    amounts = [_amount_of(s) for s in p1113]
    present = [a for a in amounts if a is not None]
    return Summary(
        tb=_TB[e["id"][0]],
        num=int(e["id"][1:]),
        label=e["labels"].get("en", {}).get("value", ""),
        description=e["descriptions"].get("en", {}).get("value", ""),
        n_claims=n_claims,
        p1113_sum=math.fsum(present),
        first_p1113=amounts[0] if amounts else None,
        episodes=present[0] if present else None,
        parent=parent,
        children=tuple(children),
        p1113_thing=any(_thing_of(s) is not None for s in p1113),
        has_p1113=bool(p1113),
    )


class EntityMaker:
    """Builds entity dicts in the published JSON shape."""

    def __init__(self, rng: random.Random, vocab: Vocab, id_space: int):
        self.rng = rng
        self.vocab = vocab
        self.id_space = id_space
        self.pids = list(range(1, 3001))
        self.p_cum = list(itertools.accumulate(1.0 / (i + 1) ** 0.9 for i in range(len(self.pids))))
        # values repeat across entities, as popular ones do in the real
        # dump; a pool per datatype also keeps generation fast
        self.pools = {dt: [self._value(dt) for _ in range(2048)] for dt in dict.fromkeys(_DATATYPES)}

    def _hash(self) -> str:
        return f"{self.rng.getrandbits(160):040x}"

    def _value(self, datatype: str):
        r, v = self.rng, self.vocab
        qid = lambda: r.randrange(1, self.id_space)  # noqa: E731
        if datatype == "wikibase-item":
            n = qid()
            return {"entity-type": "item", "numeric-id": n, "id": f"Q{n}"}, "wikibase-entityid"
        if datatype == "wikibase-property":
            n = r.randrange(1, 3000)
            return {"entity-type": "property", "numeric-id": n, "id": f"P{n}"}, "wikibase-entityid"
        if datatype == "wikibase-lexeme":
            n = r.randrange(1, 900000)
            return {"entity-type": "lexeme", "numeric-id": n, "id": f"L{n}"}, "wikibase-entityid"
        if datatype == "wikibase-form":
            return {"entity-type": "form", "id": f"L{r.randrange(1, 900000)}-F{r.randrange(1, 9)}"}, "wikibase-entityid"
        if datatype == "wikibase-sense":
            return {"entity-type": "sense", "id": f"L{r.randrange(1, 900000)}-S{r.randrange(1, 9)}"}, "wikibase-entityid"
        if datatype == "quantity":
            nd = r.choice((0, 0, 1, 2))
            amount = round(r.lognormvariate(3, 2), nd)
            q = {"amount": f"{'+' if r.random() < 0.95 else '-'}{amount:.{nd}f}", "unit": r.choice(_UNITS)}
            if r.random() < 0.3:
                q["lowerBound"] = f"+{amount * 0.9:.{nd + 1}f}"
                q["upperBound"] = f"+{amount * 1.1:.{nd + 1}f}"
            return q, "quantity"
        if datatype == "time":
            y = r.randrange(1500, 2025)
            return {"time": f"+{y:04d}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}T00:00:00Z",
                    "timezone": 0, "before": 0, "after": 0, "precision": r.choice((9, 10, 11)),
                    "calendarmodel": "http://www.wikidata.org/entity/Q1985727"}, "time"
        if datatype == "globe-coordinate":
            return {"latitude": round(r.uniform(-90, 90), 6), "longitude": round(r.uniform(-180, 180), 6),
                    "altitude": None, "precision": r.choice((0.0001, 0.001, 1.0e-5)),
                    "globe": "http://www.wikidata.org/entity/Q2"}, "globecoordinate"
        if datatype == "monolingualtext":
            return {"text": v.text(r.randrange(1, 5)), "language": r.choice(LANGS)}, "monolingualtext"
        if datatype == "external-id":
            return f"{r.choice(('n', 'sh', 'X', ''))}{r.randrange(10**9):d}", "string"
        if datatype == "url":
            return f"https://{v.text(1)}.org/{v.text(1)}/{r.randrange(10**6)}", "string"
        if datatype == "commonsMedia":
            return f"{v.text(2).title()} {r.randrange(1900, 2024)}.jpg", "string"
        if datatype == "math":
            return f"\\frac{{{v.text(1)}}}{{{r.randrange(2, 99)}}}", "string"
        if datatype == "geo-shape":
            return f"Data:{v.text(2).title()}.map", "string"
        if datatype == "musical-notation":
            return "\\relative c' { " + " ".join(r.choice("abcdefg") + str(r.choice((4, 8))) for _ in range(6)) + " }", "string"
        if datatype == "tabular-data":
            return f"Data:{v.text(2).title()}.tab", "string"
        return v.text(r.randrange(1, 6)), "string"

    def snak(self, pid: int, datatype: str | None = None) -> dict:
        datatype = datatype or _pid_datatype(pid)
        s = {"snaktype": "value", "property": f"P{pid}", "hash": self._hash(), "datatype": datatype}
        roll = self.rng.random()
        if roll < 0.02:
            s["snaktype"] = "novalue"
        elif roll < 0.04:
            s["snaktype"] = "somevalue"
        else:
            value, vtype = self.rng.choice(self.pools[datatype]) if datatype in self.pools else self._value(datatype)
            s["datavalue"] = {"value": value, "type": vtype}
        return s

    def statement(self, eid: str, pid: int, datatype: str | None = None) -> dict:
        r = self.rng
        st = {"mainsnak": self.snak(pid, datatype), "type": "statement",
              "id": f"{eid}${r.getrandbits(128):032X}", "rank": r.choice(("normal",) * 8 + ("preferred", "deprecated"))}
        if r.random() < 0.2:
            quals: dict[str, list] = {}
            for _ in range(r.randrange(1, 4)):
                qp = r.choice((585, 580, 582, 1810, 642, 518, 1545, 2241))
                quals.setdefault(f"P{qp}", []).append(self.snak(qp))
            st["qualifiers"] = quals
            st["qualifiers-order"] = list(quals)
        if r.random() < 0.3:
            st["references"] = [{"hash": self._hash(), "snaks": {"P248": [self.snak(248, "wikibase-item")]},
                                 "snaks-order": ["P248"]}]
        return st

    def entity(self, kind: str, num: int, n_props: int | None = None, special: dict | None = None) -> dict:
        r, v = self.rng, self.vocab
        eid = f"{kind}{num}"
        labels, descriptions, aliases = {}, {}, {}
        langs = r.sample(LANGS[1:], r.randrange(0, 5))
        if r.random() < 0.93:
            langs.insert(0, "en")
        for lang in langs:
            t = v.text(r.randrange(1, 5))
            if lang in _SCRIPTS:
                t = t.translate(_SCRIPTS[lang])
            labels[lang] = {"language": lang, "value": t}
            if r.random() < 0.7:
                descriptions[lang] = {"language": lang, "value": v.text(r.randrange(2, 9))}
            if r.random() < 0.2:
                aliases[lang] = [{"language": lang, "value": v.text(2)}]
        claims: dict[str, list] = {}
        if n_props is None:
            n_props = min(30, int(r.expovariate(1 / 3.5)) + 1)
        for pid in r.choices(self.pids, cum_weights=self.p_cum, k=n_props):
            if pid in (P_EPISODES, P_SERIES, P_PARTS):
                continue  # only placed on purpose, below
            claims.setdefault(f"P{pid}", []).extend(
                self.statement(eid, pid) for _ in range(r.choice((1, 1, 1, 1, 2)))
            )
        for pid, datatypes in (special or {}).items():
            claims[f"P{pid}"] = [self.statement(eid, pid, d) for d in datatypes]
        e = {"type": "item" if kind == "Q" else "property", "id": eid}
        if kind == "P":
            e["datatype"] = _pid_datatype(num)
        e.update(labels=labels, descriptions=descriptions, aliases=aliases, claims=claims)
        if kind == "Q" and r.random() < 0.6:
            e["sitelinks"] = {f"{lang}wiki": {"site": f"{lang}wiki", "title": labels[lang]["value"], "badges": []}
                              for lang in labels if lang in ("en", "de", "fr")}
        return e

    def random_special(self) -> dict:
        """P1113/P179/P527 claims for a share of items, so the SurrealQL
        scripts select non-trivial sets (P1113 Things exercise the
        delete cascade's empty-array predicate, as in test_filter)."""
        r = self.rng
        special = {}
        if r.random() < 0.12:
            special[P_EPISODES] = r.choice(
                (["quantity"], ["quantity"], ["quantity", "quantity"], ["wikibase-item"], ["wikibase-item", "quantity"])
            )
        if r.random() < 0.10:
            special[P_SERIES] = ["wikibase-item"]
        if r.random() < 0.08:
            special[P_PARTS] = ["wikibase-item"] * r.randrange(1, 6)
        return special


@dataclass
class Dump:
    """One generated dump file and the truth derived from it."""

    path: str
    n_lines: int
    n_entities: int  # well-formed entity lines, duplicates included
    n_bytes: int
    # first-writer-wins per table: (tb, num) -> Summary
    rows: dict = field(default_factory=dict)
    # first-writer-wins per numeric id across tables (the Claims table)
    claims: dict = field(default_factory=dict)


TRUNCATED_NUM = 9_000_000_001

# A dump line cut right after a key of the labels map, the same on every
# seed. It is malformed and should be dropped; the ingest keeps it as a
# partial entity (the parser's partial results carry the id).
TRUNCATED_LINE = (
    f'{{"type":"item","id":"Q{TRUNCATED_NUM}","labels":{{"en":{{"language":"en",'
    '"value":"cut short"},"de":'
)


def write_dump(path: str, maker: EntityMaker, ids: list[tuple[str, int]], *, n_huge: int = 0,
               huge_claims: int = 0, dup_rate: float = 0.0, bad_rate: float = 0.0,
               fixed: list[dict] = (), truncated: bool = False) -> Dump:
    """Serialize entities for ``ids`` (in the given order) plus ``fixed``
    entities, duplicates and malformed lines (with ``truncated``, also
    ``TRUNCATED_LINE`` in the middle), and return the truth. The truth
    leaves malformed lines out."""
    r = maker.rng
    d = Dump(path=path, n_lines=2, n_entities=0, n_bytes=0)  # 2: the [ and ] lines
    stride = max(1, len(ids) // max(1, n_huge)) if n_huge else 0
    dups: list[tuple[int, str, int]] = []  # heap of (due position, kind, num)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("[\n")

        def line(text: str):
            fh.write(text + ",\n")
            d.n_lines += 1

        def put(e: dict):
            line(json.dumps(e, ensure_ascii=False, separators=(",", ":")))
            d.n_entities += 1
            s = summarize(e)
            d.rows.setdefault((s.tb, s.num), s)
            d.claims.setdefault(s.num, s)

        for e in fixed:
            put(e)
        for i, (kind, num) in enumerate(ids):
            if stride and i % stride == 0 and i // stride < n_huge:
                e = maker.entity(kind, num, n_props=0, special={
                    P_PARTS: ["wikibase-item"] * (huge_claims // 2),
                    1082: ["quantity"] * (huge_claims - huge_claims // 2),
                })
            else:
                e = maker.entity(kind, num, special=maker.random_special() if kind == "Q" else None)
            put(e)
            if truncated and i == len(ids) // 2:
                line(TRUNCATED_LINE)
            if r.random() < dup_rate:  # same id again, later, other content
                heapq.heappush(dups, (i + r.randrange(1, 500), kind, num))
            while dups and dups[0][0] <= i:
                _, k2, n2 = heapq.heappop(dups)
                put(maker.entity(k2, n2))
            # malformed lines: not JSON at all, and JSON without an entity
            # id. The only truncated entity line is ``TRUNCATED_LINE``:
            # whether the ingest drops one depends on where the cut falls,
            # so a random cut would fail on some seeds only
            if r.random() < bad_rate:
                line(f"<corrupt block {r.getrandbits(64):016x}>")
            if r.random() < bad_rate:
                line(json.dumps({"type": "item", "id": f"X{num}", "labels": {}}))
        for _, k2, n2 in sorted(dups):
            put(maker.entity(k2, n2))
        fh.write("]\n")
    d.n_bytes = os.path.getsize(path)
    return d


def fixed_entities(maker: EntityMaker, base_num: int) -> list[dict]:
    """The labels the reference's scripts filter on: 'Black Clover, season 1'
    with 51 episodes, and its parent 'Black Clover' with three parts."""

    def valued(eid: str, pid: int, value, vtype: str) -> dict:
        st = maker.statement(eid, pid)
        st["mainsnak"].update(snaktype="value", datavalue={"value": value, "type": vtype})
        return st

    season = maker.entity("Q", base_num, n_props=2)
    season["labels"]["en"] = {"language": "en", "value": "Black Clover, season 1"}
    season["claims"][f"P{P_EPISODES}"] = [
        valued(season["id"], P_EPISODES, {"amount": "+51", "unit": "1"}, "quantity")]
    series = maker.entity("Q", base_num + 1, n_props=2)
    series["labels"]["en"] = {"language": "en", "value": "Black Clover"}
    series["claims"][f"P{P_PARTS}"] = [
        valued(series["id"], P_PARTS, {"entity-type": "item", "numeric-id": n, "id": f"Q{n}"}, "wikibase-entityid")
        for n in (base_num, base_num + 2, base_num + 3)]
    return [season, series]


def base_ids(rng: random.Random, n: int, id_space: int, prop_share: float = 0.02) -> list[tuple[str, int]]:
    """Distinct item ids spread over the id space plus ~2% properties
    (whose small numeric ids collide with some items', as in the real
    dump), in a shuffled order."""
    n_props = int(n * prop_share)
    items = rng.sample(range(3, id_space), n - n_props)
    props = rng.sample(range(1, 3000), n_props)
    ids = [("Q", q) for q in items] + [("P", p) for p in props]
    rng.shuffle(ids)
    return ids


def update_ids(rng: random.Random, base: list[tuple[str, int]], n: int, id_space: int,
               new_share: float = 0.1) -> list[tuple[str, int]]:
    """An edit batch: ids drawn uniformly over the whole id space, mostly
    existing entities, some new ones; never clustered."""
    n_new = int(n * new_share)
    existing = rng.sample(base, n - n_new)
    taken = {num for _, num in base}
    new = []
    while len(new) < n_new:
        q = rng.randrange(3, id_space)
        if q not in taken:
            taken.add(q)
            new.append(("Q", q))
    ids = existing + new
    rng.shuffle(ids)
    return ids


# --- pipeline-operator tables ---------------------------------------------------


def write_pipeline_tables(out_dir: str, rng: random.Random, vocab: Vocab, *, n_docs: int,
                          n_customers: int, n_events: int) -> dict[str, int]:
    """The catalog tables the pipeline operators read, with the columns and
    types of the catalog's test data, as parquet files in ``out_dir``:

    - ``documents``: Zipf-vocabulary text, 15% near-copies of an earlier
      document with a few words replaced (dedup's pairs);
    - ``customer``: names in 25 nation blocks, 15% of them one or two
      letters away from an earlier name of the same nation (ER's chains);
    - ``events``: 20 users' timestamped events with idle gaps (sessions).

    Returns the row count of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.15:
            words = rng.choice(texts).split()
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = vocab.text(1)
            texts.append(" ".join(words))
        else:
            texts.append(vocab.text(rng.randrange(12, 90)))
    write("documents", pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{rng.randrange(7)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    names: list[str] = []
    nations: list[int] = []
    letters = "abcdefghijklmnopqrstuvwxyz"
    for _ in range(n_customers):
        if names and rng.random() < 0.15:
            j = rng.randrange(len(names))
            name = list(names[j])
            for _ in range(rng.randrange(1, 3)):
                name[rng.randrange(len(name))] = rng.choice(letters)
            names.append("".join(name))
            nations.append(nations[j])
        else:
            names.append(vocab.text(2).title())
            nations.append(rng.randrange(25))
    write("customer", pa.table({
        "c_custkey": pa.array(range(n_customers), pa.int64()),
        "c_name": names,
        "c_nationkey": pa.array(nations, pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in names],
        "c_mktsegment": [rng.choice(("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"))
                         for _ in names],
    }))

    t0 = 1_704_067_200_000_000  # 2024-01-01 in microseconds
    clocks = [t0 + rng.randrange(0, 3_600_000_000) for _ in range(20)]
    users, stamps = [], []
    for _ in range(n_events):
        u = rng.randrange(20)
        # mostly minutes apart, sometimes hours: several sessions per user
        gap = rng.expovariate(1 / 300) if rng.random() < 0.85 else rng.uniform(3_600, 30_000)
        clocks[u] += int(gap * 1e6) + 1
        users.append(u)
        stamps.append(clocks[u])
    write("events", pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(stamps, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": [rng.choice(("view", "click", "purchase", "signup", "error")) for _ in users],
        "value": [round(rng.uniform(0, 500), 2) for _ in users],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in users],
    }))
    return {"documents": n_docs, "customer": n_customers, "events": n_events}
