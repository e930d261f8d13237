"""Seeded input generator for the benchmark workloads.

Every input a run uses is written here from the seed alone: request
bodies, the batch corpus, the maintenance documents table and the LLM
stub delay. The delay and the shapes (record,
item and finding counts, corpus and table sizes) are fixed; the seed only
changes content (codes, languages, comment text), so runs on different
seeds do the same amount of work. `manifest.json` lists the inputs and a
sha256 digest over every file, so two runs on one seed provably used
identical inputs.

    python3 perfbench/gen.py WORKLOAD SEED OUT_DIR
"""
import hashlib
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq


# The reference's shipped smoke request (sample_request.json) and the
# report it produces through fallback dims and the mock LLM, as pinned by
# GoldenPipelineSpec.
SAMPLE_REQUEST = [{
    "RECORD_ID": "R001", "LANG_NO": "1", "ORG_ID": "ORG_A",
    "ITEMS": [
        {"ITEM_CODE": "I001", "FINDINGS": [
            {"DIAG_CODE": "D001", "COMMENT": "範例說明文字 A", "SUMMARY_CODE": "S001"}]},
        {"ITEM_CODE": "I002", "FINDINGS": [
            {"DIAG_CODE": "D002", "COMMENT": "範例說明文字 B", "SUMMARY_CODE": "S002"}]},
    ],
}]
SAMPLE_REPORT = ("範例分類\n    項目 I001\n        範例說明文字 A\n            本項無補充說明\n\n"
                 "    項目 I002\n        範例說明文字 B\n            本項無補充說明\n")

# Why each workload exists; printed into the manifest beside its inputs.
WHY = {
    "request_serial":
        "The reference's own traffic as one caller sees it: small bodies, "
        "fallback dims, mock LLM. Nearly all time is fixed per-request cost "
        "in the driver, scheduling and codegen layers. Its traced run also "
        "probes a burst of concurrent requests and one store maintenance "
        "cycle.",
    "batch_corpus":
        "Fixed costs amortized: executor CPU, shuffle for the keep-first "
        "window and display sort, string normalization, the report "
        "serializer and the JSONL sink. Its traced run also probes the "
        "LLM rewrite operator against the stub.",
}

STUB_DELAY_MS, LLM_PAIRS = 40, 200
SERIAL_POOL, SAMPLE_EVERY = 12, 4
CORPUS_BODIES, WARMUP_BODIES, CORPUS_RECORDS_PER_BODY = 400, 20, 10
DOCS = 600
LANGS = ["1", "2", "3", "4"]

CJK = ["檢查結果", "數值偏高", "建議追蹤", "血壓正常", "視力模糊", "肝功能", "心電圖",
       "需要複查", "輕度貧血", "膽固醇", "検査結果", "要精密検査", "血糖偏高", "复查建议"]
FULLWIDTH = ["（正常）", "：５０", "！", "＋", "１２０／８０", "ＡＢＣ", "％"]
LATIN = ["value ok", "mild", "follow up", "normal range", "see doctor", "borderline"]


def comment(rng):
    """A finding comment: CJK runs, fullwidth punctuation and digits,
    CRLF line breaks and stray spaces, as the normalizer meets them."""
    parts = [rng.choice(CJK)]
    for _ in range(rng.randint(0, 2)):
        parts.append(rng.choice(FULLWIDTH + LATIN + CJK))
    text = rng.choice([" ", "", "\r\n", "  "]).join(parts)
    if rng.random() < 0.2:
        text = "  " + text + " "
    return text


def record(rng, rid, items, findings, item_codes, diag_codes, org=None):
    """One record; the first finding of every record is non-blank so the
    record always yields a report, and every item repeats one finding."""
    its = []
    for i, code in enumerate(rng.sample(item_codes, items)):
        fs = []
        for f in range(findings):
            if f > 0 and f == findings - 1:
                fs.append(dict(fs[0]))  # a repeated finding
                continue
            text = comment(rng)
            if (i, f) != (0, 0) and rng.random() < 0.1:
                text = rng.choice(["   ", None])
            fs.append({"DIAG_CODE": rng.choice(diag_codes), "COMMENT": text,
                       "SUMMARY_CODE": "x"})
        its.append({"ITEM_CODE": code, "FINDINGS": fs})
    return {"RECORD_ID": rid, "LANG_NO": rng.choice(LANGS),
            "ORG_ID": org or rng.choice(["ORG_A", "ORG_B"]), "ITEMS": its}


def dumps(obj):
    return json.dumps(obj, ensure_ascii=False)


def write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(data)


def gen_request_serial(rng, out):
    items = [f"I{n:03d}" for n in range(1, 41)]
    diags = [f"D{n:03d}" for n in range(1, 81)]
    bodies = []
    for i in range(SERIAL_POOL):
        if i % SAMPLE_EVERY == 0:
            bodies.append({"id": "sample", "file": "bodies/sample.json", "records": 1})
            continue
        recs = [record(rng, f"Q{i:02d}{r}", 2 + r % 2, 2, items, diags)
                for r in range(1 + i % 3)]
        bodies.append({"id": f"b{i:02d}", "file": f"bodies/b{i:02d}.json",
                       "records": len(recs)})
        write(os.path.join(out, bodies[-1]["file"]), dumps(recs))
    write(os.path.join(out, "bodies/sample.json"), dumps(SAMPLE_REQUEST))
    manifest = {"bodies": bodies, "warmup_body": 0}
    manifest.update(documents(rng, out))  # for the store probe
    return manifest


def gen_batch_corpus(rng, out):
    """The corpus (sample request first, then bodies of generated
    records) and a small warm-up corpus of the same shape."""
    items = [f"I{n:03d}" for n in range(1, 201)]
    diags = [f"D{n:03d}" for n in range(1, 401)]

    def corpus(name, bodies, prefix):
        lines = [dumps(SAMPLE_REQUEST)]
        for b in range(bodies):
            lines.append(dumps([record(rng, f"{prefix}{b:04d}{r:02d}", 3, 3, items, diags, "ORG_A")
                                for r in range(CORPUS_RECORDS_PER_BODY)]))
        write(os.path.join(out, name), "\n".join(lines) + "\n")
        return 1 + bodies * CORPUS_RECORDS_PER_BODY
    manifest = {"corpus": "corpus.jsonl",
                "corpus_records": corpus("corpus.jsonl", CORPUS_BODIES, "B"),
                "warmup_corpus": "warmup.jsonl",
                "warmup_records": corpus("warmup.jsonl", WARMUP_BODIES, "W"),
                "stub_delay_ms": STUB_DELAY_MS, "llm_pairs": LLM_PAIRS}
    return manifest


WORDS = ("merge window customer spark part group stream filter the sort scan vector "
         "join query big hash column data agg table line small slow key fast order "
         "row value a batch").split()


def documents(rng, out):
    """A `documents` table shaped like the harness corpus: word-soup
    texts over a 31-word vocabulary, with one doc in 20 a near copy of an
    earlier one so the near-dup stores have clusters to find."""
    rows = []
    for d in range(DOCS):
        if d >= 20 and d % 20 == 7:
            words = rows[rng.randrange(d - 20, d)]["text"].split()
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(12, 80))]
        text = " ".join(words)
        rows.append({"doc_id": d, "text": text,
                     "lang": rng.choice(["en", "en", "zh", "es", "fr", "de"]),
                     "source": f"src{d % 5}", "n_chars": len(text)})
    os.makedirs(os.path.join(out, "docs"), exist_ok=True)
    table = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        "text": [r["text"] for r in rows], "lang": [r["lang"] for r in rows],
        "source": [r["source"] for r in rows],
        "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64())})
    pq.write_table(table, os.path.join(out, "docs", "documents.parquet"))
    return {"docs_dir": "docs", "docs": DOCS}


GENERATORS = {
    "request_serial": gen_request_serial,
    "batch_corpus": gen_batch_corpus,
}


def digest(out):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(out)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the inputs for one run into `out`; return the manifest."""
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](rng, out)
    manifest.update(workload=workload, seed=seed, why=WHY[workload],
                    input_digest=digest(out))
    write(os.path.join(out, "manifest.json"), json.dumps(manifest, indent=1))
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
