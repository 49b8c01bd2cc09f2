"""Seeded inputs: corpus slices, query mixes and DynamoDB stream batches.

Everything the engine receives is generated here from the run's seed: a
doc-id offset into ``sources.synthetic`` (a counter-based corpus, so any id
range is a valid, reproducible corpus) and vocabulary-rank sampling over the
synthetic corpus' fixed 500-entry Zipf vocabulary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from dynamo2es_lambda_spark.sources import dynamo_json, synthetic

from reference import Reference

VOCAB = synthetic.vocabulary()
# vocabulary rank bands (index order is the Zipf rank): keywords are the hot
# head (df ~ 0.8 N), snake_case the middle, camelCase/PascalCase entries
# split into several tokens, and the "x<i> = <n>;" entries carry the rarest
# tokens of the analyzed dictionary
RANKS = {"hot": (0, 30), "mid": (30, 200), "camel": (200, 425),
         "tail": (465, 500)}
KEY_COLS = ("repo", "path", "commit")
IMAGE_COLS = ("repo", "path", "commit", "lang", "content", "version")


def doc_ids(pdf: pd.DataFrame) -> list[str]:
    """The engine's default doc_id: key columns joined by '.'."""
    return (pdf["repo"] + "." + pdf["path"] + "." + pdf["commit"]).tolist()


def doc_id(row: dict) -> str:
    return ".".join(row[c] for c in KEY_COLS)


class Inputs:
    """The run's random source. Draws happen in a fixed order, so one seed
    always yields the same inputs."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self._next_doc = int(self.rng.integers(0, 1 << 40))

    def docs(self, n: int) -> pd.DataFrame:
        """n fresh synthetic documents (never generated before in the run)."""
        ids = np.arange(self._next_doc, self._next_doc + n, dtype=np.int64)
        self._next_doc += n
        pdf = synthetic.corpus_pdf(ids)
        pdf["version"] = np.zeros(n, dtype=np.int64)
        return pdf

    def entry(self, band: str) -> str:
        lo, hi = RANKS[band]
        return VOCAB[int(self.rng.integers(lo, hi))]

    def absent(self) -> str:
        letters = self.rng.integers(0, 26, size=7)
        return "zq" + "".join(chr(97 + int(c)) for c in letters)

    def pick(self, seq):
        return seq[int(self.rng.integers(0, len(seq)))]


class QueryMix:
    """The query workload's op mix, drawn against the reference's corpus."""

    def __init__(self, gen: Inputs, ref: Reference) -> None:
        self.gen, self.ref = gen, ref
        self.dictionary = sorted(ref.terms)

    def term_queries(self) -> list[tuple[str, str]]:
        """(mode, text) WAND term queries covering every rank band: hot
        terms defeat block-max pruning, tail terms let it work."""
        g = self.gen
        return [
            ("or", f"{g.entry('hot')} {g.entry('tail')}"),
            ("and", f"{g.entry('hot')} {g.entry('mid')}"),
            ("or", g.entry("camel")),
            ("or", f"{g.entry('tail')} {g.absent()}"),
        ]

    def bool_query(self) -> tuple[str, str, str]:
        g = self.gen
        return g.entry("hot"), g.entry("mid"), g.entry("tail")

    def phrase(self) -> str:
        """2-3 consecutive tokens of a random live document."""
        g, ref = self.gen, self.ref
        slots = ref.index["slots"]
        toks = ref.toks[int(slots[int(g.rng.integers(0, slots.size))])]
        n = int(g.rng.integers(2, 4))
        i = int(g.rng.integers(0, toks.size - n + 1))
        names = list(ref.terms)
        return " ".join(names[t] for t in toks[i:i + n])

    def prefix(self) -> str:
        term = self.gen.pick(self.dictionary)
        return term[: min(len(term), int(self.gen.rng.integers(2, 4)))]

    def fuzzy(self) -> str:
        """A dictionary term with one substituted letter."""
        g = self.gen
        term = g.pick([t for t in self.dictionary if len(t) >= 4])
        i = int(g.rng.integers(0, len(term)))
        return term[:i] + chr(97 + int(g.rng.integers(0, 26))) + term[i + 1:]


def image(row: dict, version: int, content: str | None = None) -> dict:
    img = {c: row[c] for c in IMAGE_COLS}
    img["version"] = version
    if content is not None:
        img["content"] = content
    return img


class ChangeStream:
    """A seeded stream of raw DynamoDB stream micro-batches against a store
    whose live documents this object tracks (keys, images, versions)."""

    def __init__(self, gen: Inputs, corpus: pd.DataFrame) -> None:
        self.gen = gen
        self.live: dict[str, dict] = dict(
            zip(doc_ids(corpus), corpus.to_dict("records"))
        )
        self.marker_of: dict[str, str] = {}
        self.n_batches = 0

    def initial_load(self) -> list[str]:
        """INSERT records for every tracked document: the table's initial
        load through the stream."""
        return [dynamo_json.format_stream_record(
            "INSERT", {c: row[c] for c in KEY_COLS},
            new_image=image(row, row["version"]))
            for row in self.live.values()]

    def batch(self, size: int):
        """→ (raw record JSON list, expectation dict). The mix is 40% INSERT,
        40% MODIFY and 20% REMOVE; no key is touched twice in one batch.
        Every modified doc gains a marker token unique to it, and removals
        prefer marked docs, so the follow-up query can look both up."""
        g = self.gen
        self.n_batches += 1
        n_ins, n_mod = int(size * 0.4), int(size * 0.4)
        n_rem = size - n_ins - n_mod
        keys = list(self.live)
        chosen = g.rng.choice(len(keys), size=n_mod + n_rem, replace=False)
        mod_ids = [keys[i] for i in chosen[:n_mod]]
        mod_set = set(mod_ids)
        marked = [d for d in self.marker_of if d not in mod_set]
        rem_ids = [keys[i] for i in chosen[n_mod:]]
        gone = None
        if marked:
            gone = g.pick(marked)
            if gone not in rem_ids:
                rem_ids[0] = gone
            gone = (gone, self.marker_of[gone])
        fresh = g.docs(n_ins + n_mod)
        raws, upserts = [], {}
        for row in fresh.iloc[:n_ins].to_dict("records"):
            did = doc_id(row)
            raws.append(dynamo_json.format_stream_record(
                "INSERT", {c: row[c] for c in KEY_COLS},
                new_image=image(row, 1)))
            upserts[did] = image(row, 1)
        for j, (did, donor) in enumerate(
                zip(mod_ids, fresh["content"].iloc[n_ins:])):
            old = self.live[did]
            marker = f"zmk{self.n_batches}x{j}"
            new = image(old, old["version"] + 1, f"{donor} {marker}")
            raws.append(dynamo_json.format_stream_record(
                "MODIFY", {c: old[c] for c in KEY_COLS},
                new_image=new, old_image=image(old, old["version"])))
            upserts[did] = new
            self.marker_of[did] = marker
        for did in rem_ids:
            old = self.live[did]
            raws.append(dynamo_json.format_stream_record(
                "REMOVE", {c: old[c] for c in KEY_COLS},
                old_image=image(old, old["version"])))
        order = g.rng.permutation(len(raws))
        raws = [raws[i] for i in order]
        return raws, {"upserts": upserts, "removed": rem_ids,
                      "modified": mod_ids, "gone": gone}

    def commit(self, exp: dict, ref: Reference) -> None:
        """Apply the batch's expectation to the tracked state and the
        reference, after the engine applied it."""
        self.live.update(exp["upserts"])
        for did in exp["removed"]:
            self.live.pop(did)
            self.marker_of.pop(did, None)
        ids = list(exp["upserts"])
        ref.upsert(ids, [exp["upserts"][d]["content"] for d in ids])
        ref.remove(exp["removed"])

    def follow_up(self, exp: dict) -> tuple[str, str, str | None]:
        """(query text, doc that must be found, doc that must be gone): the
        marker of one doc modified in the batch, a middle-band term, and
        the marker a doc removed in the batch carried (if any)."""
        g = self.gen
        found = g.pick(exp["modified"])
        parts = [self.marker_of[found], g.entry("mid")]
        gone = None
        if exp["gone"] is not None:
            gone, marker = exp["gone"]
            parts.append(marker)
        return " ".join(parts), found, gone
