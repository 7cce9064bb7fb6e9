"""Seeded input generators and the ground truth each output is checked against.

Everything here is plain Python over ``random.Random(seed)``: the same
seed gives byte-identical inputs, and the expected outputs are computed
from the values the generator wrote, never from a run of the program.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from dataclasses import dataclass

import h5write

PREFIXES = ("alpha", "beta", "misc")  # two schema prefixes + catch-all traffic
N_PROPOSALS = 40


# ----------------------------------------------------------------- NeXus files


@dataclass(frozen=True)
class NexusFile:
    path: str
    prefix: str
    title: str
    proposal_id: str
    temperature: float  # dataset with a `units` attribute (K)
    pressure: float  # dataset without one; the schema's config unit applies
    users: tuple[tuple[str, str], ...]  # (group name, user name)
    datasets: tuple[tuple[str, str, str], ...]  # every (path, value, unit) the file holds

    @property
    def pid(self) -> str:
        return hashlib.md5(self.path.encode()).hexdigest()


def proposals(rng: random.Random) -> dict[str, str]:
    """proposalId -> PI last name: the catalogue snapshot's content."""
    return {f"P{1000 + i}": f"{_word(rng).capitalize()}-{i}" for i in range(N_PROPOSALS)}


# Shape of a file, after the two deployment files the repository's
# hdf5lite tests walk (ODIN, 43 datasets; YMIR, 57 datasets; six
# `user_*` groups): 40 fixed datasets plus 1-5 detector groups of 3,
# so 43-55 datasets per file. Detector counts cycle over the files, so
# every seed writes the same number of datasets in total.
N_USERS = 6
USER_FIELDS = ("name", "email", "affiliation", "facility_user_id")


def nexus_files(directory: str, rng: random.Random, n: int, catalogue: dict[str, str]) -> list[NexusFile]:
    """Write ``n`` NeXus-shaped files into ``directory`` and return their truth."""
    os.makedirs(directory, exist_ok=True)
    pids = sorted(catalogue)
    prefixes = [PREFIXES[i % len(PREFIXES)] for i in range(n)]
    rng.shuffle(prefixes)
    out = []
    for i, prefix in enumerate(prefixes):
        users = tuple(
            (f"user_{_word(rng)}{k}", f"{_word(rng).capitalize()} {_word(rng).capitalize()}")
            for k in range(N_USERS)
        )
        title = f"{_word(rng)} scan {rng.randint(1, 99999)}"
        proposal_id = rng.choice(pids)
        # multiples of 1/4 and 1/2 print identically in Java and Python
        temperature = rng.randint(400, 1600) / 4
        pressure = rng.randint(1, 40) / 2
        day = rng.randint(1, 28)
        instrument = {
            "name": h5write.Value(rng.choice(["ODIN", "YMIR", "CODA"])),
            "source": {
                "name": h5write.Value("ESS"),
                "probe": h5write.Value("neutron"),
                "type": h5write.Value("Spallation Neutron Source"),
            },
        }
        for d in range(1 + i % 5):
            instrument[f"detector_{d}"] = {
                "distance": h5write.Value(rng.randint(1, 400) / 8, "m"),
                "x_pixel_size": h5write.Value(rng.randint(1, 64) / 1024, "m"),
                "description": h5write.Value(f"{_word(rng)} panel {d}"),
            }
        entry = {
            "title": h5write.Value(title),
            "experiment_identifier": h5write.Value(proposal_id),
            "experiment_description": h5write.Value(f"{_word(rng)} proposal #{rng.randint(1, 99)}"),
            "entry_identifier": h5write.Value(str(rng.randint(10000, 99999))),
            "definition": h5write.Value(rng.choice(["NXtomo", "NXmx", "NXsas"])),
            "start_time": h5write.Value(f"2024-10-{day:02d}T09:00:00Z"),
            "end_time": h5write.Value(f"2024-10-{day:02d}T09:{rng.randint(10, 59)}:00Z"),
            "sample": {
                "name": h5write.Value(_word(rng)),
                "description": h5write.Value(f"{_word(rng)} {_word(rng)}"),
                "temperature": h5write.Value(temperature, "K"),
                "pressure": h5write.Value(pressure),
                "run_number": h5write.Value(rng.randint(1, 10**6)),
            },
            "instrument": instrument,
        }
        for group, name in users:
            login = name.lower().replace(" ", ".")
            entry[group] = {
                "name": h5write.Value(name),
                "email": h5write.Value(f"{login}@ess.eu"),
                "affiliation": h5write.Value(f"{_word(rng).capitalize()} University"),
                "facility_user_id": h5write.Value(login),
            }
        path = os.path.join(directory, f"{prefix}_{i:05d}.nxs")
        h5write.write(path, {"entry": entry})
        out.append(NexusFile(
            path, prefix, title, proposal_id, temperature, pressure, users,
            tuple(sorted(_flatten({"entry": entry}, ""))),
        ))
    return out


def _flatten(tree: dict, prefix: str):
    """(path, value, unit) rows as ``hdf5.read_rows`` renders them."""
    for name, node in tree.items():
        if isinstance(node, dict):
            yield from _flatten(node, f"{prefix}/{name}")
        else:
            yield f"{prefix}/{name}", str(node.data), node.units or ""


def schemas(directory: str) -> list[dict]:
    """Three imsc schemas: two chosen by filename prefix, one catch-all.

    They use NXS variables (one with a wildcard path, one with a units
    attribute, one with a config unit), an SC variable answered from the
    proposal snapshot, and VALUE templates."""
    title = {"source": "NXS", "path": "/entry/title", "value_type": "string"}
    proposal = {"source": "NXS", "path": "/entry/experiment_identifier", "value_type": "string"}
    pi = {"source": "SC", "url": "proposals/<proposal_id>", "field": "pi_lastname", "value_type": "string"}
    hl = "high_level"
    return [
        {
            "id": "alpha-schema", "name": "alpha", "order": 1,
            "selector": f"filename:starts_with:{directory}/alpha_",
            "variables": {
                "title": title,
                "proposal_id": proposal,
                "temperature": {"source": "NXS", "path": "/entry/sample/temperature", "value_type": "float"},
                "users": {"source": "NXS", "path": "/entry/user_*/name", "value_type": "string[]"},
                "pi": pi,
                "dataset_name": {"source": "VALUE", "value": "<title> (<proposal_id>)", "value_type": "string"},
            },
            "schema": {
                "datasetName": {"value": "<dataset_name>", "field_type": hl},
                "proposalId": {"value": "<proposal_id>", "field_type": hl},
                "principalInvestigator": {"value": "<pi>", "field_type": hl},
                "users": {"value": "<users>", "field_type": hl, "value_type": "string[]"},
                "temperature": {"value": "<temperature>", "field_type": "scientific_metadata", "value_type": "float"},
            },
        },
        {
            "id": "beta-schema", "name": "beta", "order": 2,
            "selector": f"filename:starts_with:{directory}/beta_",
            "variables": {
                "title": title,
                "proposal_id": proposal,
                "pressure": {"source": "NXS", "path": "/entry/sample/pressure", "value_type": "float", "unit": "mbar"},
                "pi": pi,
                "dataset_name": {"source": "VALUE", "value": "beta: <title>", "value_type": "string"},
            },
            "schema": {
                "datasetName": {"value": "<dataset_name>", "field_type": hl},
                "proposalId": {"value": "<proposal_id>", "field_type": hl},
                "principalInvestigator": {"value": "<pi>", "field_type": hl},
                "pressure": {"value": "<pressure>", "field_type": "scientific_metadata", "value_type": "float"},
            },
        },
        {
            "id": "generic-schema", "name": "generic", "order": 3, "selector": "*",
            "variables": {"title": title, "proposal_id": proposal},
            "schema": {
                "datasetName": {"value": "<title>", "field_type": hl},
                "proposalId": {"value": "<proposal_id>", "field_type": hl},
            },
        },
    ]


def expected_row(f: NexusFile, catalogue: dict[str, str]) -> dict:
    """The ingest row the schemas above must produce for one file."""

    def v(value, unit=""):
        return {"value": value, "unit": unit}

    def sci(name, value, unit):
        return {"value": repr(value), "unit": unit, "human_name": name, "type": "float"}

    if f.prefix == "alpha":
        users = [name for _, name in sorted(f.users)]  # wildcard matches sort by path
        doc = {
            "datasetName": v(f"{f.title} ({f.proposal_id})"),
            "proposalId": v(f.proposal_id),
            "principalInvestigator": v(catalogue[f.proposal_id]),
            "users": v(users),
            "scientificMetadata": {"temperature": sci("temperature", f.temperature, "K")},
        }
    elif f.prefix == "beta":
        doc = {
            "datasetName": v(f"beta: {f.title}"),
            "proposalId": v(f.proposal_id),
            "principalInvestigator": v(catalogue[f.proposal_id]),
            "scientificMetadata": {"pressure": sci("pressure", f.pressure, "mbar")},
        }
    else:
        doc = {"datasetName": v(f.title), "proposalId": v(f.proposal_id)}
    return {
        "pid": f.pid,
        "file": f.path,
        "schema_id": f"{'generic' if f.prefix == 'misc' else f.prefix}-schema",
        "dataset": doc,
        "failed_vars": "",
    }


def check_ingest_rows(rows: list[dict], expected: dict[str, dict]) -> list[tuple[str, str]]:
    """Compare output rows with the expected rows keyed by pid; return
    (file, message) for every fault (empty when the output is right)."""
    faults = []
    seen = set()
    for r in rows:
        pid = r["pid"]
        if pid in seen:
            faults.append((r["file"], f"duplicate row for {r['file']}"))
            continue
        seen.add(pid)
        exp = expected.get(pid)
        if exp is None:
            faults.append((r["file"], f"unexpected row for {r['file']}"))
            continue
        got = {
            "pid": pid,
            "file": r["file"],
            "schema_id": r["schema_id"],
            "dataset": json.loads(r["dataset_json"]),
            "failed_vars": r["failed_vars"],
        }
        if got != exp:
            faults.append((r["file"], f"row for {r['file']}: got {got}, want {exp}"))
    faults += [(expected[pid]["file"], f"no row for {expected[pid]['file']}") for pid in sorted(set(expected) - seen)]
    return faults


# ------------------------------------------------------------------ documents


@dataclass
class Corpus:
    docs: list[tuple[int, str, str]]  # (doc_id, source, text)
    eval_docs: list[tuple[int, str, str]]
    emails: list[str]
    near_dup_pairs: list[tuple[int, int]]  # (original, edited copy)


BOILERPLATE = (
    "subscribe to our newsletter for weekly updates and exclusive offers",
    "all rights reserved no part of this page may be reproduced",
    "click here to accept cookies and continue browsing the site",
    "share this article with your friends on social media",
)


# share of the corpus per planted kind. The shares are illustrative,
# not measured on a real crawl: each kind is common enough that every
# stage has work in every round. Every seed plants exactly these counts,
# and duplicates copy only plain documents, so clusters are stars and
# the seed moves the text, not the amount of work
PLANTED = {"exact": 0.06, "near": 0.08, "junk": 0.04, "short": 0.03, "eval": 0.06, "boilerplate": 0.18, "pii": 0.10}
PLAIN_HEAD = 20  # leading plain documents, so duplicates have originals


def corpus(rng: random.Random, n_docs: int) -> Corpus:
    """Documents with planted exact duplicates, near-duplicates,
    boilerplate lines, PII, repetitive junk, short docs and passages
    copied from the eval split."""
    vocab = sorted({_word(rng) for _ in range(3000)})
    sources = ("web", "news", "forum")

    def line() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 14)))

    eval_docs = [(10**6 + i, "eval", "\n".join(line() for _ in range(5))) for i in range(40)]
    kinds = [k for k, share in PLANTED.items() for _ in range(round(share * n_docs))]
    kinds += ["plain"] * (n_docs - PLAIN_HEAD - len(kinds))
    rng.shuffle(kinds)
    kinds = ["plain"] * PLAIN_HEAD + kinds
    docs: list[tuple[int, str, str]] = []
    plain: list[tuple[int, str]] = []
    emails: list[str] = []
    near: list[tuple[int, int]] = []
    for doc_id, kind in enumerate(kinds):
        lines = [line() for _ in range(rng.randint(4, 8))]
        if kind == "exact":
            text = rng.choice(plain)[1]
        elif kind == "near":  # one word edited in every line
            orig_id, orig = rng.choice(plain)
            edited = []
            for ln in orig.split("\n"):
                words = ln.split(" ")
                words[rng.randrange(len(words))] = rng.choice(vocab)
                edited.append(" ".join(words))
            text = "\n".join(edited)
            near.append((orig_id, doc_id))
        elif kind == "junk":  # the same line over and over
            text = "\n".join([lines[0]] * 6)
        elif kind == "short":  # below the quality gate's token floor
            text = " ".join(rng.choice(vocab) for _ in range(10))
        else:
            if kind == "eval":  # a passage lifted from the eval split
                lines.insert(1, rng.choice(eval_docs)[2].split("\n")[rng.randrange(5)])
            elif kind == "boilerplate":
                lines.append(rng.choice(BOILERPLATE))
            elif kind == "pii":
                email = f"{_word(rng)}.{_word(rng)}{rng.randint(1, 99)}@{_word(rng)}.org"
                emails.append(email)
                phone = f"+41 22 {rng.randint(100, 999)} {rng.randint(1000, 9999)}"
                lines.insert(rng.randrange(len(lines)), f"contact {email} or call {phone}")
            text = "\n".join(lines)
            if kind == "plain":
                plain.append((doc_id, text))
        docs.append((doc_id, sources[doc_id % 3], text))
    return Corpus(docs, eval_docs, emails, near)


def shingles(text: str, n: int) -> set[str]:
    """Python twin of ``operators.dedup.word_shingles``: lower-cased
    whitespace tokens, n-grams joined by a space (the whole token list
    when it is shorter than n)."""
    toks = re.split(r"\s+", text.lower())
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """node -> minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("bcdfghklmnprstvz") + rng.choice("aeiou") for _ in range(rng.randint(2, 4)))
