"""Deterministic synthetic vocabulary (ontology/dictionary) generator.

Shapes mirror what the reference consumes and emits:

- term rows ≙ OBO terms parsed at /root/reference
  src/graphdb_builder/ontologies/parsers/oboParser.py:22-50 and the entity
  TSV header at ontologies/ontologies_controller.py:142
  (``ID, :LABEL, name, description, type, synonyms``);
- alias rows ≙ ``mapping.tsv`` ``(ident, source, ref)`` written by
  mapping.buildMappingFromOBO (graphdb_connector/mapping.py:238-241);
  multi-mapped aliases ≙ getMultipleMappingForEntity (mapping.py:115-142);
- per-type blocklists (hierarchy roots) ≙ db_mentions_filters
  (databases/config/jensenlabConfig.yml:49-60, consumed at
  textminingParser.py:113-114).

Everything is a pure function of the seed: fixed word stock, fixed
``random.Random`` streams, no wall-clock.

The generator also plants **near-duplicate alias clusters** — pairs of
distinct canonical ids whose surface forms differ only by punctuation /
token order / casing. These are the targets the MinHash-LSH +
connected-components canonicalization stage must merge; the expected merge
pairs are returned so tests can assert the clustering exactly.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

ENTITY_TYPES: list[tuple[str, str]] = [
    # (entity_type, id prefix) — the mention entity set of the reference
    # (builder_config.yml:165-171: Disease, Tissue, Protein, Drug, Cellular_component)
    ("Disease", "DOID:"),
    ("Tissue", "BTO:"),
    ("Protein", "UP:P"),
    ("Drug", "DB:DB"),
    ("Cellular_component", "GO:"),
]

_PREFIX_SYLLABLES = [
    "cardi", "neuro", "hepat", "nephr", "derma", "gastr", "pulmo", "oste",
    "my", "angi", "leuk", "fibro", "glio", "melan", "lipo", "chondro",
    "adeno", "hemato", "broncho", "cerebro",
]
_MID_SYLLABLES = ["", "o", "ar", "en", "ix", "ul", "ev", "ac"]
_SUFFIX_SYLLABLES = [
    "oma", "itis", "osis", "pathy", "emia", "plasia", "trophy", "algia",
    "penia", "megaly", "sclerosis", "stenosis",
]
_QUALIFIERS = [
    "acute", "chronic", "familial", "juvenile", "atypical", "benign",
    "malignant", "primary", "secondary", "recessive",
]
_GREEK = ["alpha", "beta", "gamma", "delta", "kappa", "sigma"]


@dataclass
class VocabConfig:
    seed: int = 7
    terms_per_type: int = 60
    shared_alias_pairs: int = 6      # aliases mapped to 2 canonical ids (fan-out)
    near_dup_pairs_per_type: int = 4  # planted name-variant twins canon must merge
    hub_terms: int = 3               # planted high-frequency entities


@dataclass
class Vocab:
    terms: list[dict[str, Any]] = field(default_factory=list)
    aliases: list[dict[str, Any]] = field(default_factory=list)
    blocklist: list[dict[str, Any]] = field(default_factory=list)
    expected_merges: list[tuple[str, str]] = field(default_factory=list)
    hub_ids: list[str] = field(default_factory=list)

    def surfaces_for_type(self, entity_type: str) -> list[str]:
        return [
            a["alias"]
            for a in self.aliases
            if any(
                t["id"] == a["canonical_id"] and t["entity_type"] == entity_type
                for t in self.terms
            )
        ]


def _base_name(rng: random.Random, used: set[str]) -> str:
    for attempt in range(5000):
        name = (
            rng.choice(_PREFIX_SYLLABLES)
            + rng.choice(_MID_SYLLABLES)
            + rng.choice(_SUFFIX_SYLLABLES)
        )
        if attempt >= 200:
            # the 1,920-name syllable space is exhausted (UMLS-sized vocab
            # configs) — extend with a deterministic numeric disambiguator
            name = f"{name} {rng.randint(2, 99999)}"
        if name not in used:
            used.add(name)
            return name
    raise RuntimeError("name space exhausted")


def generate_vocab(cfg: VocabConfig | None = None) -> Vocab:
    cfg = cfg or VocabConfig()
    rng = random.Random(cfg.seed)
    v = Vocab()
    used_names: set[str] = set()

    for type_idx, (etype, prefix) in enumerate(ENTITY_TYPES):
        ids: list[str] = []
        for i in range(cfg.terms_per_type):
            tid = f"{prefix}{7000000 + type_idx * 100000 + i:07d}"
            ids.append(tid)
            base = _base_name(rng, used_names)
            # every 5th term gets a multi-word name; every 10th gets a name
            # extending the previous term's name (longest-match test target)
            if i % 10 == 9 and i > 0:
                prev_name = v.terms[-1]["name"]
                name = f"{prev_name} type {rng.choice(_GREEK)}"
            elif i % 5 == 4:
                name = f"{rng.choice(_QUALIFIERS)} {base}"
            else:
                name = base
            n_syn = rng.randint(0, 4)
            synonyms = []
            for s in range(n_syn):
                kind = rng.randint(0, 3)
                if kind == 0:
                    synonyms.append(f"{base} {rng.choice(_GREEK)}")
                elif kind == 1:
                    synonyms.append(f"{rng.choice(_QUALIFIERS)} {base} syndrome")
                elif kind == 2:
                    synonyms.append(base.upper()[:6] + str(s))
                else:
                    synonyms.append(f"{base}-{rng.choice(_GREEK)}")
            # forest with fan-out 3 → depth ≤ ~4 at 60 terms; index 0 is root
            parent_id = ids[(i - 1) // 3] if i > 0 else None
            v.terms.append(
                {
                    "id": tid,
                    "entity_type": etype,
                    "name": name,
                    "synonyms": synonyms,
                    "description": f"synthetic {etype.lower()} term {name}",
                    "parent_id": parent_id,
                }
            )
            v.aliases.append({"canonical_id": tid, "source": "NAME", "alias": name})
            for syn in synonyms:
                v.aliases.append({"canonical_id": tid, "source": "SYN", "alias": syn})

        # hierarchy root is blocklisted (≙ DOID:4 / BTO:0000000 / GO:0005575)
        v.blocklist.append({"entity_type": etype, "id": ids[0]})

        # near-duplicate twin terms: same concept, different id; synonyms are
        # punctuation/order/case variants of the original -> must merge in canon/
        type_terms = [t for t in v.terms if t["entity_type"] == etype]
        dup_candidates = [t for t in type_terms[1:] if " " in t["name"]]
        rng.shuffle(dup_candidates)
        for j, orig in enumerate(dup_candidates[: cfg.near_dup_pairs_per_type]):
            twin_id = f"{prefix}{7900000 + type_idx * 100000 + j:07d}"
            toks = orig["name"].split()
            variants = [
                " ".join(reversed(toks)),
                "-".join(toks),
                orig["name"].title(),
            ]
            v.terms.append(
                {
                    "id": twin_id,
                    "entity_type": etype,
                    "name": variants[0],
                    "synonyms": variants[1:] + [orig["name"]],
                    "description": f"near-duplicate of {orig['id']}",
                    "parent_id": orig["parent_id"],
                }
            )
            v.aliases.append({"canonical_id": twin_id, "source": "NAME", "alias": variants[0]})
            for var in variants[1:] + [orig["name"]]:
                v.aliases.append({"canonical_id": twin_id, "source": "SYN", "alias": var})
            v.expected_merges.append((orig["id"], twin_id))

    # shared aliases: one surface mapped to two canonical ids of different
    # types (fan-out semantics of mapping.py:115-142)
    non_root = [t for t in v.terms if t["parent_id"] is not None]
    for k in range(cfg.shared_alias_pairs):
        a, b = rng.sample(non_root, 2)
        shared = f"shared{k}syn {rng.choice(_GREEK)}"
        v.aliases.append({"canonical_id": a["id"], "source": "SYN", "alias": shared})
        v.aliases.append({"canonical_id": b["id"], "source": "SYN", "alias": shared})

    # hub entities: first non-root, non-blocklisted disease terms
    diseases = [
        t for t in v.terms if t["entity_type"] == "Disease" and t["parent_id"] is not None
    ]
    v.hub_ids = [t["id"] for t in diseases[: cfg.hub_terms]]
    return v


TERMS_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("name", StringType(), False),
        StructField("synonyms", ArrayType(StringType()), False),
        StructField("description", StringType(), True),
        StructField("parent_id", StringType(), True),
    ]
)

ALIASES_SCHEMA = StructType(
    [
        StructField("canonical_id", StringType(), False),
        StructField("source", StringType(), False),
        StructField("alias", StringType(), False),
    ]
)

BLOCKLIST_SCHEMA = StructType(
    [
        StructField("entity_type", StringType(), False),
        StructField("id", StringType(), False),
    ]
)


def vocab_dataframes(spark: SparkSession, v: Vocab) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(terms, aliases, blocklist) as DataFrames. Vocab is dimension-sized:
    it is created on the driver via the **pandas/Arrow path** (a plain
    list-of-rows createDataFrame becomes a pickled Python RDD whose every
    evaluation round-trips through Python workers — measured 4.5s per job
    at local[32] vs 0.1s for the Arrow local relation), kept in one
    partition, and always joined via ``F.broadcast``."""
    import pandas as pd

    terms = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [t["id"] for t in v.terms],
                "entity_type": [t["entity_type"] for t in v.terms],
                "name": [t["name"] for t in v.terms],
                "synonyms": [t["synonyms"] for t in v.terms],
                "description": [t["description"] for t in v.terms],
                "parent_id": [t["parent_id"] for t in v.terms],
            }
        ),
        TERMS_SCHEMA,
    ).coalesce(1)
    aliases = spark.createDataFrame(
        pd.DataFrame(
            {
                "canonical_id": [a["canonical_id"] for a in v.aliases],
                "source": [a["source"] for a in v.aliases],
                "alias": [a["alias"] for a in v.aliases],
            }
        ),
        ALIASES_SCHEMA,
    ).coalesce(1)
    block = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_type": [b["entity_type"] for b in v.blocklist],
                "id": [b["id"] for b in v.blocklist],
            }
        ),
        BLOCKLIST_SCHEMA,
    ).coalesce(1)
    return terms, aliases, block
