"""Seeded input generators for the benchmark workloads.

Every generator here is a pure function of its seed and size arguments:
the same seed yields byte-identical inputs, so two runs (or two commits)
measured with one seed see exactly the same work. The engine receives
only the files run.py writes from these models; the models themselves
are what the correctness checks compare against.
"""
import hashlib
import random
from datetime import datetime, timedelta, timezone

GRAPH_BASE = "https://w3id.org/mlentory/mlentory_graph/"
PLATFORM = "hf"
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

LICENSES = ["apache-2.0", "mit", "bsd-3-clause", "cc-by-4.0", "cc-by-nc-4.0",
            "openrail", "llama2", "gpl-3.0", "afl-3.0", "bigscience-openrail-m"]
TASKS = ["text-classification", "fill-mask", "token-classification",
         "question-answering", "summarization", "translation",
         "text-generation", "image-classification", "object-detection",
         "automatic-speech-recognition", "audio-classification",
         "feature-extraction", "sentence-similarity", "zero-shot-classification"]
LANGS = ["en", "zh", "de", "fr", "es", "ja", "ru", "pt", "it", "ko", "ar", "hi"]
LIBRARIES = ["transformers", "pytorch", "tensorflow", "jax", "onnx",
             "safetensors", "sentence-transformers", "diffusers", "timm"]
KEYWORDS = ["bert", "roberta", "gpt2", "t5", "llama", "vit", "whisper",
            "distillation", "lora", "quantized", "multilingual", "biomedical",
            "legal", "finance", "code", "chat", "instruct", "ner", "sentiment",
            "embeddings", "vision", "speech", "peft", "adapter", "small"]
DATASETS = ["squad", "glue", "imdb", "wikitext", "c4", "common_voice",
            "librispeech", "imagenet-1k", "coco", "conll2003", "xsum",
            "cnn_dailymail", "mnli", "sst2", "pile", "oscar", "laion"]
WORDS = ("model data training evaluation results text image audio task "
         "fine tuned base language classification dataset accuracy epochs "
         "batch learning rate optimizer tokens corpus benchmark intended use "
         "limitations bias license inference pipeline weights checkpoint "
         "architecture layers hidden size attention heads vocabulary").split()

QUALITY_DEFECTS = ["default", "short", "no_pipeline", "no_tags"]
DEFAULT_INDICATORS = [
    "## Model Details", "## Uses", "## Bias, Risks, and Limitations",
    "## Training Details", "## Evaluation", "## Environmental Impact",
    "## Technical Specifications", "## Model Card Contact"]


def subject_iri(model_id):
    """Subject IRI ModelCardPipeline.toTriples assigns to an HF model."""
    key = f"platform={PLATFORM}|type=model|{model_id}"
    return GRAPH_BASE + hashlib.sha256(key.encode("utf-8")).hexdigest()


def iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%S")


def epoch_ms(ts):
    return int(ts.timestamp() * 1000)


def _sentence(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _model_state(rng, model_id, created):
    """One model card's facts; the harvest and graph generators share it."""
    return {
        "model_id": model_id,
        "author": model_id.split("/")[0],
        "license": rng.choice(LICENSES),
        "gated": rng.random() < 0.3,
        "task": rng.choice(TASKS),
        "langs": sorted(rng.sample(LANGS, rng.randint(0, 2))),
        "libraries": sorted(rng.sample(LIBRARIES, rng.randint(1, 2))),
        "keywords": sorted(rng.sample(KEYWORDS, rng.randint(1, 5))),
        "datasets": sorted(rng.sample(DATASETS, rng.randint(0, 3))),
        "arxiv": sorted(f"{rng.randint(1000, 2400)}.{rng.randint(10000, 99999)}"
                        for _ in range(rng.randint(0, 2))),
        "created": created,
        "modified": created + timedelta(days=rng.randint(0, 30)),
        "description": _sentence(rng, rng.randint(12, 40)),
    }


def _model_ids(rng, n, prefix):
    authors = [f"{prefix}org{i:04d}" for i in range(max(1, n // 6))]
    return [f"{rng.choice(authors)}/{rng.choice(KEYWORDS)}-{i:06d}" for i in range(n)]


# ---------------------------------------------------------------- graph

def graph_triples(state, base_iri=None):
    """The FAIR4ML triples of one model state as (predicate, obj, objKind,
    extractionMethod) tuples, deduplicated, in a stable order."""
    mid = state["model_id"]
    url = f"https://huggingface.co/{mid}"
    known = "Parsed_from_HF_dataset"
    tags = "Parsed_from_HF_tags"
    yaml = "Parsed_from_YAML"
    out = [
        ("schema.org:name", mid.split("/")[-1], "literal", known),
        ("schema.org:identifier", mid, "literal", known),
        ("fair4ml:sharedBy", state["author"], "literal", known),
        ("schema.org:dateCreated", iso(state["created"]), "literal", known),
        ("schema.org:dateModified", iso(state["modified"]), "literal", known),
        ("schema.org:url", url, "iri", known),
        ("schema.org:discussionUrl", url + "/discussions", "iri", known),
        ("codemeta:readme", url + "/blob/main/README.md", "iri", known),
        ("schema.org:description", state["description"], "literal", known),
        ("schema.org:license", state["license"], "literal", yaml),
        ("fair4ml:mlTask", state["task"].replace("-", " "), "literal", tags),
    ]
    if state["gated"]:
        out.append(("schema.org:conditionsOfAccess",
                    "extra_gated_prompt: accept the terms", "literal", yaml))
    out += [("schema.org:keywords", k, "literal", tags) for k in state["keywords"]]
    out += [("schema.org:inLanguage", l, "literal", tags) for l in state["langs"]]
    out += [("fair4ml:trainedOn", d, "literal", tags) for d in state["datasets"]]
    out += [("codemeta:referencePublication", f"https://arxiv.org/abs/{a}", "iri", tags)
            for a in state["arxiv"]]
    if base_iri is not None:
        out.append(("fair4ml:fineTunedFrom", base_iri, "iri", tags))
    seen, uniq = set(), []
    for t in out:
        if t[:3] not in seen:
            seen.add(t[:3])
            uniq.append(t)
    return uniq


def _churn(rng, state, when):
    """A re-harvest of a card: a license change or a dropped gate, plus
    the modification date moving."""
    s = dict(state)
    if s["gated"] and rng.random() < 0.5:
        s["gated"] = False
    else:
        s["license"] = rng.choice([l for l in LICENSES if l != s["license"]])
    s["modified"] = when
    return s


class Graph:
    """A versioned model graph: version 1 holds every subject, each later
    version re-harvests a slice of them. `history[subject]` is a list of
    (epoch_ms, triples) in version order — the oracle for current and
    as-of reads."""

    def __init__(self, seed, n_subjects, n_versions=2, churn=0.1):
        rng = random.Random(f"graph-{seed}")
        ids = _model_ids(rng, n_subjects, "g")
        self.subjects = [subject_iri(m) for m in ids]
        self.states = {}
        self.base = {}
        for i, (m, s) in enumerate(zip(ids, self.subjects)):
            self.states[s] = _model_state(rng, m, T0 - timedelta(days=rng.randint(1, 900)))
            if i > 0 and rng.random() < 0.25:
                self.base[s] = self.subjects[rng.randrange(i)]
        self.version_times = [T0 + timedelta(days=10 * v) for v in range(n_versions)]
        self.history = {s: [(epoch_ms(self.version_times[0]), self.triples(s))]
                        for s in self.subjects}
        self.versions = [list(self.subjects)]
        for v in range(1, n_versions):
            touched = rng.sample(self.subjects, int(churn * n_subjects))
            for s in touched:
                self.states[s] = _churn(rng, self.states[s], self.version_times[v])
                self.history[s].append((epoch_ms(self.version_times[v]), self.triples(s)))
            self.versions.append(touched)
        self.rng = rng

    def triples(self, s):
        return graph_triples(self.states[s], self.base.get(s))

    def current(self, s):
        return self.history[s][-1][1]

    def as_of(self, s, ms):
        """Triples current at `ms`; `ms` never equals a version time."""
        live = [t for (at, t) in self.history[s] if at < ms]
        return live[-1] if live else []

    def reharvest(self, subjects, when):
        for s in subjects:
            self.states[s] = _churn(self.rng, self.states[s], when)
            self.history[s].append((epoch_ms(when), self.triples(s)))


def triple_rows(subjects_triples, when):
    """Columnar rows in the TripletStore.merge input schema."""
    cols = {k: [] for k in ("subject", "predicate", "obj", "objKind",
                            "datatype", "extractionMethod", "confidence",
                            "extractionTime")}
    for s, triples in subjects_triples:
        for (p, o, kind, method) in triples:
            cols["subject"].append(s)
            cols["predicate"].append(p)
            cols["obj"].append(o)
            cols["objKind"].append(kind)
            cols["datatype"].append("")
            cols["extractionMethod"].append(method)
            cols["confidence"].append(1.0)
            cols["extractionTime"].append(when)
    return cols


def fingerprint(rows):
    """Order-free digest of a result set (one tuple of strings per row);
    the Scala harness digests its results with the same rule."""
    lines = sorted("\t".join(r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def lookup_rows(graph_view, subjects):
    return [(s, p, o, k, "") for s in set(subjects) for (p, o, k, _m) in graph_view(s)]


def pivot_rows(graph, page):
    """Expected rows of docPivotPlatform(resolveNames(current)) on `page`:
    IRI objects that name a subject with a name triple resolve to it."""
    rows = []
    for s in sorted(set(page)):
        props = []
        for (p, o, _k, _m) in graph.current(s):
            if o in graph.states:
                names = [x for (pp, x, _kk, _mm) in graph.current(o) if pp == "schema.org:name"]
                if names:
                    o = min(names)
            props.append(f"{p}={o}")
        rows.append((s, ";".join(sorted(props)), str(len(props)), "Hugging Face"))
    return rows


def serve_plan(g, seed, n_reads, n_trickles, start, trickle_size=24):
    """The serving loop over graph `g`: `n_reads` reads in a fixed mix
    (as-of, pivot and scan a fifth, a tenth and a tenth, lookups the rest)
    in seeded order, with a trickle re-harvest of recently read subjects
    after every `n_reads // n_trickles` reads. Seeds change subjects and
    order, not the amount of each kind of work. Lookup sets are Zipf-skewed
    over the subjects; as-of lookups target subjects re-harvested after
    the chosen time, so they read closed ranges. Trickles are stamped
    after `start`."""
    rng = random.Random(f"ops-{seed}")
    ranks = list(g.subjects)
    rng.shuffle(ranks)
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(ranks))]
    vt = [epoch_ms(t) for t in g.version_times]
    mid = [(vt[i] + vt[i + 1]) // 2 for i in range(len(vt) - 1)]
    # subjects re-harvested after each midpoint: their state at that time
    # sits in ranges the later version closed
    changed_after = [sorted(set(x for v in g.versions[i + 1:] for x in v))
                     for i in range(len(mid))]
    mix = {"asof": round(n_reads * 0.2), "pivot": max(1, round(n_reads * 0.1)),
           "scan": max(1, round(n_reads * 0.1))}
    kinds = ["lookup"] * (n_reads - sum(mix.values()))
    for k, n in mix.items():
        kinds += [k] * n
    rng.shuffle(kinds)
    every = n_reads // n_trickles
    ops, recent, when = [], [], start
    for i, kind in enumerate(kinds):
        if kind == "lookup":
            subs = sorted(set(rng.choices(ranks, weights, k=rng.randint(1, 10))))
            recent.extend(subs)
            ops.append({"kind": kind, "subjects": subs})
        elif kind == "asof":
            at = rng.randrange(len(mid))
            subs = sorted(set(rng.sample(changed_after[at], rng.randint(1, 10))))
            recent.extend(subs)
            ops.append({"kind": kind, "subjects": subs, "ms": mid[at]})
        elif kind == "pivot":
            page = rng.randrange(0, len(g.subjects) // 100)
            ops.append({"kind": kind, "subjects": sorted(g.subjects[page * 100:(page + 1) * 100])})
        else:
            ops.append({"kind": kind})
        if (i + 1) % every == 0 and (i + 1) // every <= n_trickles:
            when = when + timedelta(hours=6)
            ops.append({"kind": "trickle", "subjects": sorted(set(recent[-trickle_size:])),
                        "ms": epoch_ms(when)})
    return ops


def expected_graph_results(g, ops, other_subjects=0):
    """Walk the plan against the generator model, applying each trickle
    re-harvest in plan order. A scan expects the store's distinct subject
    count: `g`'s subjects plus `other_subjects`. Returns the expected
    digest per op (None for trickles) and, per trickle op index, the batch it merges: the
    re-harvested subjects' full triple sets. Mutates `g`."""
    expected, batches = [], {}
    for i, op in enumerate(ops):
        k = op["kind"]
        if k == "lookup":
            expected.append(fingerprint(lookup_rows(g.current, op["subjects"])))
        elif k == "asof":
            expected.append(fingerprint(
                lookup_rows(lambda s: g.as_of(s, op["ms"]), op["subjects"])))
        elif k == "pivot":
            expected.append(fingerprint(pivot_rows(g, op["subjects"])))
        elif k == "scan":
            expected.append(str(len(g.subjects) + other_subjects))
        else:
            expected.append(None)
            when = datetime.fromtimestamp(op["ms"] / 1000, timezone.utc)
            g.reharvest(op["subjects"], when)
            batches[i] = triple_rows([(s, g.triples(s)) for s in op["subjects"]], when)
    return expected, batches


# -------------------------------------------------------------- harvest

def _card_text(rng, st, defect):
    if defect == "short":
        return f"# {st['model_id']}\nA model."
    if defect == "default":
        return ("---\nlicense: " + st["license"] + "\n---\n" +
                "\n".join(h + "\n[More Information Needed]\n" * 5 for h in DEFAULT_INDICATORS))
    fm = [f"license: {st['license']}"]
    if st["gated"]:
        fm.append("extra_gated_prompt: accept the terms")
    body = [
        "---", *fm, "---",
        f"# {st['model_id'].split('/')[-1]}",
        st["description"],
        "## Intended Use",
        "Intended use of the model: " + _sentence(rng, rng.randint(15, 40)),
        "## Training Details",
        "Training details and data: " + _sentence(rng, rng.randint(15, 40)),
        "## Evaluation",
        _sentence(rng, rng.randint(20, 60)),
        "## Limitations",
        _sentence(rng, rng.randint(10, 40)),
    ]
    return "\n".join(body)


def _snapshot_row(rng, st, defect):
    tags = [st["task"]] + st["langs"] + st["libraries"] + st["keywords"]
    tags += [f"dataset:{d}" for d in st["datasets"]]
    tags += [f"arxiv:{a}" for a in st["arxiv"]]
    tags.append(f"license:{st['license']}")
    return {
        "modelId": st["model_id"],
        "author": st["author"],
        "last_modified": st["modified"],
        "downloads": rng.randint(0, 100000),
        "likes": rng.randint(0, 500),
        "library_name": st["libraries"][0],
        "tags": [] if defect == "no_tags" else tags,
        "pipeline_tag": None if defect == "no_pipeline" else st["task"],
        "createdAt": st["created"],
        "card": _card_text(rng, st, defect),
    }


class Harvest:
    """Successive harvest batches of an HF snapshot. Each batch is fresh
    cards plus revisits of earlier ones; every revisit carries churn (a
    license change or a dropped gate). A fixed share of cards fails the
    quality filter; a card's defect never changes between visits."""

    def __init__(self, seed, n_batches, fresh, revisits, bad_share=0.15):
        rng = random.Random(f"harvest-{seed}")
        self.batch_times = [T0 + timedelta(days=60 + b) for b in range(n_batches)]
        ids = _model_ids(rng, n_batches * fresh, "h")
        self.batches = []      # per batch: list of snapshot rows
        self.revisited = []    # per batch: model ids revisited in it
        self.states = {}       # model id -> latest state
        self.defect = {}
        self.license_at = {}   # model id -> [(batch index, license)]
        landed = []
        for b in range(n_batches):
            when = self.batch_times[b]
            rows, rev = [], []
            for m in ids[b * fresh:(b + 1) * fresh]:
                st = _model_state(rng, m, when - timedelta(days=rng.randint(1, 400)))
                st["modified"] = when
                self.states[m] = st
                self.defect[m] = rng.choice(QUALITY_DEFECTS) if rng.random() < bad_share else None
                rows.append(_snapshot_row(rng, st, self.defect[m]))
                self.license_at[m] = [(b, st["license"])]
            for m in sorted(set(rng.sample(landed, min(revisits, len(landed))))):
                st = _churn(rng, self.states[m], when)
                self.states[m] = st
                rows.append(_snapshot_row(rng, st, self.defect[m]))
                self.license_at[m].append((b, st["license"]))
                rev.append(m)
            landed.extend(ids[b * fresh:(b + 1) * fresh])
            rng.shuffle(rows)
            self.batches.append(rows)
            self.revisited.append(rev)

    def kept(self, m):
        return self.defect[m] is None

    def license_before(self, m, b):
        """License of card `m` as of the end of batch `b`."""
        vals = [lic for (bb, lic) in self.license_at[m] if bb <= b]
        return vals[-1] if vals else None
