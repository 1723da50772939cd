"""Seeded input generator for the benchmark.

Everything a run feeds the program comes from here: the synthetic corpus
(word-salad prose with upper-case title lines and blank-line paragraphs,
the shape of the sf0.1 `documents` fixture) and the operation list of
each workload. The same (workload, seed) always gives byte-identical
output; nothing reads the clock or the environment.
"""

import json
import random

FORMATS = ("warc", "pdf", "xlsx", "jsonl")
LANGS = ("de", "en", "es", "fr", "zh")

# Input sizes per workload. Each run generates more operations than it
# can execute in its measuring window; the closed loop stops at the
# deadline, so the executed prefix is a function of speed, the list is not.
SIZES = {
    "corpus_build": {"docs": 600, "ops": 400},
    "chat_session": {"docs": 600, "ops": 200, "sessions_per_turn": 4,
                     "reasks_per_turn": 1, "new_sessions_per_turn": 1,
                     "seed_cache": 24},
    "store_churn": {"docs": 1200, "initial_share": 0.5, "ops": 400,
                    "append_batch": 20, "delete_batch": 10,
                    "probe_batch": 8, "mix": {"probe": 5, "append": 2,
                                              "delete": 1},
                    "final_probes": 12},
}

_SYL = ("ka", "lo", "mi", "ren", "sa", "tor", "vel", "un", "qua", "dri",
        "po", "zen", "fa", "gil", "hu", "ix", "jo", "bre", "cas", "dom",
        "el", "fin", "gor", "hal", "ist", "mar", "nov", "ost", "pli", "rum")


def _vocab(rng, n=3000):
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class _Words:
    """Zipf-weighted word sampler (rank^-1), the shape of natural text."""

    def __init__(self, rng):
        self.rng = rng
        self.words = _vocab(rng)
        self.cum = []
        acc = 0.0
        for r in range(len(self.words)):
            acc += 1.0 / (r + 1)
            self.cum.append(acc)

    def take(self, n):
        return self.rng.choices(self.words, cum_weights=self.cum, k=n)


def _sentence(words, rng):
    toks = words.take(rng.randint(6, 16))
    return " ".join(toks).capitalize() + "."


def _titles(words, n=12):
    """A small fixed set of section titles, the way a document collection
    reuses headings; the vector store partitions on them."""
    out = []
    while len(out) < n:
        t = " ".join(words.take(words.rng.randint(2, 3))).upper()
        if len(t) > 5 and t not in out:
            out.append(t)
    return out


def _doc(words, titles, rng):
    parts = []
    for _ in range(rng.randint(1, 2)):
        parts.append(rng.choice(titles))
        for _ in range(rng.randint(2, 4)):
            parts.append(" ".join(_sentence(words, rng)
                                  for _ in range(rng.randint(2, 6))))
    return "\n\n".join(parts)


def corpus(seed, n_docs):
    """`n_docs` rows of (doc_id, text, lang, source, format)."""
    rng = random.Random(f"corpus:{seed}")
    words = _Words(rng)
    titles = _titles(words)
    docs = []
    for i in range(n_docs):
        docs.append({
            "doc_id": i,
            "text": _doc(words, titles, rng),
            "lang": rng.choice(LANGS),
            "source": f"src{rng.randrange(20)}",
            "format": FORMATS[rng.randrange(len(FORMATS))],
        })
    return docs


def _question(doc, rng):
    """A 6-14 word window of a paragraph: what a user would ask about."""
    paras = [p for p in doc["text"].split("\n\n") if "." in p]
    toks = rng.choice(paras).replace(".", " ").split()
    n = min(len(toks), rng.randint(6, 14))
    start = rng.randrange(len(toks) - n + 1)
    return " ".join(toks[start:start + n]).lower()


def _plan_corpus_build(seed, docs, sz):
    ops = [{"kind": "build", "build": i} for i in range(sz["ops"])]
    ops[0]["warmup"] = True
    return ops, {}


def _plan_chat(seed, docs, sz):
    """Every turn has the same shape, so turns are comparable: a fixed
    number of re-asked questions (planned cache hits) and of new sessions
    beside returning ones; which sessions return and which questions are
    asked come from the seed."""
    rng = random.Random(f"chat:{seed}")
    seen_q = set()

    def fresh_question():
        while True:
            q = _question(rng.choice(docs), rng)
            if q not in seen_q:
                seen_q.add(q)
                return q

    seeded = [fresh_question() for _ in range(sz["seed_cache"])]
    asked = list(seeded)            # questions the cache holds an answer for
    sessions, qid = [], 0
    ops = []
    per_turn = sz["sessions_per_turn"]
    for i in range(sz["ops"]):
        n_new = per_turn if not sessions else sz["new_sessions_per_turn"]
        returning = rng.sample(sessions, per_turn - n_new)
        new = [f"s{len(sessions) + k}" for k in range(n_new)]
        sessions.extend(new)
        batch = returning + new
        reask_slots = set(rng.sample(range(per_turn), sz["reasks_per_turn"]))
        rows, new_this_turn = [], []
        for k, sid in enumerate(batch):
            if k in reask_slots:
                q, reask = rng.choice(asked), True
            else:
                q, reask = fresh_question(), False
                new_this_turn.append(q)
            qid += 1
            rows.append({"session_id": sid, "query_id": qid, "question": q,
                         "reask": reask, "returning": sid not in new})
        rng.shuffle(rows)
        asked.extend(new_this_turn)
        ops.append({"kind": "turn", "turn": i, "rows": rows})
    # the first turn opens the first sessions; it runs untimed, so every
    # measured turn has the same shape
    ops[0]["warmup"] = True
    return ops, {"seed_cache": seeded}


def _plan_churn(seed, docs, sz):
    rng = random.Random(f"churn:{seed}")
    n_init = int(len(docs) * sz["initial_share"])
    live = list(range(n_init))
    live_set = set(live)
    held = list(range(n_init, len(docs)))
    appended = []                   # still-live appended ids, newest last
    # the mix holds in every block of operations, so any executed prefix
    # of the plan has it too; the seed orders each block
    block = [k for k, n in sz["mix"].items() for _ in range(n)]
    kinds = []
    while len(kinds) < sz["ops"]:
        kinds += rng.sample(block, len(block))
    ops = []
    for i, kind in enumerate(kinds[:sz["ops"]]):
        if kind == "append" and len(held) < sz["append_batch"]:
            kind = "probe"
        if kind == "append":
            ids = held[:sz["append_batch"]]
            held = held[sz["append_batch"]:]
            live.extend(ids)
            live_set.update(ids)
            appended.extend(ids)
            ops.append({"kind": "append", "ids": ids, "epoch": i + 1})
        elif kind == "delete":
            ids = sorted(rng.sample(live, sz["delete_batch"]))
            for d in ids:
                live_set.discard(d)
            live = [d for d in live if d in live_set]
            appended = [d for d in appended if d in live_set]
            ops.append({"kind": "delete", "ids": ids, "epoch": i + 1})
        else:
            queries = []
            own = appended[-(sz["probe_batch"] // 2):]
            for d in own:
                queries.append({"text": docs[d]["text"], "expect": d})
            while len(queries) < sz["probe_batch"]:
                queries.append({"text": _question(docs[rng.choice(live)], rng),
                                "expect": None})
            ops.append({"kind": "probe", "queries": queries})
    ops[0]["warmup"] = True
    final = [_question(docs[d], rng)
             for d in rng.sample(range(len(docs)), sz["final_probes"])]
    return ops, {"initial_docs": n_init, "final_probes": final}


PLANNERS = {
    "corpus_build": _plan_corpus_build,
    "chat_session": _plan_chat,
    "store_churn": _plan_churn,
}


def plan(workload, seed):
    """The full input of one run: corpus, operation list and a summary."""
    sz = SIZES[workload]
    docs = corpus(seed, sz["docs"])
    ops, extra = PLANNERS[workload](seed, docs, sz)
    return {"workload": workload, "seed": seed, "sizes": sz, "docs": docs,
            "ops": ops, "extra": extra, "summary": summary(workload, docs, ops)}


def summary(workload, docs, ops):
    """What the seed produced, recorded next to the metrics."""
    out = {"docs": len(docs), "ops_planned": len(ops),
           "docs_per_format": {f: sum(1 for d in docs if d["format"] == f)
                               for f in FORMATS},
           "text_bytes": sum(len(d["text"].encode()) for d in docs)}
    if workload == "chat_session":
        rows = [r for o in ops for r in o["rows"]]
        out["reask_share"] = round(sum(r["reask"] for r in rows) / len(rows), 4)
        out["returning_share"] = round(
            sum(r["returning"] for r in rows) / len(rows), 4)
        out["sessions"] = len({r["session_id"] for r in rows})
    if workload == "store_churn":
        n = len(ops)
        for k in ("probe", "append", "delete"):
            out[f"{k}_share"] = round(sum(o["kind"] == k for o in ops) / n, 4)
    return out


def write_plan(p, path):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(p, f, sort_keys=True)
