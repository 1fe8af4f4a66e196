"""Seeded input generator for the vectorizer benchmark.

Everything the program reads is written here, as parquet, before the
program starts:

* the *source* corpus: 5,000 synthetic multi-language posts with the
  size and measured shape of the sf0.1 `documents` table (see the
  constants below), drawn from a fixed generator seed so that every
  workload seed starts from the same source table;
* the *blown-up* corpus: ScaleBlowup's replica scheme applied `scale`
  times (replica k shifts doc_id by k * 10,000,000 and suffixes every
  ASCII alnum run with `x<k>`), with row order and the split into files
  permuted by the workload seed;
* the *arrival* files of the streaming workload: a fixed number of
  posts per file, mixing new doc_ids with edits of stored ones, the
  share of edits drawn from the workload seed.

A generated directory is reused only when its FINGERPRINT.json matches
the generator version, seed, scale, window and source fingerprint.
"""

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
SOURCE_SEED = 20240501
REPLICA_OFFSET = 10_000_000
NEW_ID_BASE = 900_000_000
WARMUP_ID_BASE = 800_000_000
CORPUS_FILES = 16

# The source table's shape, measured on the sf0.1 `documents` table the
# repository's queries run on (5,000 posts, generated with seed 42):
# - every language's posts are drawn from one shared 30-word ASCII
#   vocabulary, near-uniformly (each word 8,829-9,182 times in 272k);
# - a post has 10-99 words, uniformly (548 +- 25 posts per decade);
# - languages en/zh/es/fr/de take 41.2/15.1/14.9/14.8/14.0 % of posts;
# - 250 posts (5 %) are near-duplicates: another post's text + " dup";
# - source is "src<doc_id mod 20>" and n_chars is the text's length.
SOURCE_POSTS = 5000
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
WORDS_MIN, WORDS_MAX = 10, 99
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
DUP_SHARE = 0.05

SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])


def random_text(rng):
    n = int(rng.integers(WORDS_MIN, WORDS_MAX + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n))


_ALNUM = re.compile(r"([A-Za-z0-9]+)")


def replica_text(text, k):
    """ScaleBlowup's replica rewrite: suffix each ASCII alnum run with x<k>."""
    return text if k == 0 else _ALNUM.sub(lambda m: m.group(1) + "x" + str(k), text)


def _table(ids, texts, langs):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=SCHEMA)


def _write(table, path, row_group=2048):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group, compression="snappy")


def _file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _fresh(out, want):
    try:
        with open(os.path.join(out, "FINGERPRINT.json")) as f:
            return json.load(f) == want
    except (OSError, ValueError):
        return False


def _seal(out, want):
    # written last: a crashed generation leaves no fingerprint and regenerates
    with open(os.path.join(out, "FINGERPRINT.json"), "w") as f:
        json.dump(want, f, sort_keys=True)


def source(root):
    """The fixed source corpus; returns (dir, fingerprint)."""
    out = os.path.join(root, "source")
    want = {"gen_version": GEN_VERSION, "source_seed": SOURCE_SEED,
            "posts": SOURCE_POSTS}
    path = os.path.join(out, "documents.parquet")
    if not _fresh(out, want):
        shutil.rmtree(out, ignore_errors=True)
        rng = np.random.default_rng(SOURCE_SEED)
        langs = rng.choice(LANGS, size=SOURCE_POSTS, p=LANG_P).tolist()
        texts = [random_text(rng) for _ in range(SOURCE_POSTS)]
        dups = rng.choice(SOURCE_POSTS, size=int(SOURCE_POSTS * DUP_SHARE),
                          replace=False)
        originals = np.setdiff1d(np.arange(SOURCE_POSTS), dups)
        for i, j in zip(dups, rng.choice(originals, size=len(dups))):
            texts[i] = texts[j] + " dup"
        _write(_table(list(range(SOURCE_POSTS)), texts, langs), path)
        _seal(out, want)
    return out, _file_digest(path)


def _blown(root, scale):
    """The unpermuted blown-up corpus, shared by every seed at one scale."""
    src_dir, src_fp = source(root)
    out = os.path.join(root, "blown-x%d" % scale)
    want = {"gen_version": GEN_VERSION, "scale": scale, "source": src_fp}
    path = os.path.join(out, "documents.parquet")
    if not _fresh(out, want):
        shutil.rmtree(out, ignore_errors=True)
        base = pq.read_table(os.path.join(src_dir, "documents.parquet")).to_pydict()
        ids, texts, langs = [], [], []
        for k in range(scale):
            ids += [i + k * REPLICA_OFFSET for i in base["doc_id"]]
            texts += [replica_text(t, k) for t in base["text"]]
            langs += base["lang"]
        _write(_table(ids, texts, langs), path, row_group=1 << 20)
        _seal(out, want)
    return pq.read_table(path), src_fp


def corpus(root, seed, scale):
    """The blown-up corpus, permuted by `seed`; returns its manifest."""
    out = os.path.join(root, "corpus-x%d-s%d" % (scale, seed))
    docs_dir = os.path.join(out, "documents.parquet")
    _, src_fp = source(root)
    want = {"gen_version": GEN_VERSION, "seed": seed, "scale": scale,
            "source": src_fp}
    if not _fresh(out, want):
        shutil.rmtree(out, ignore_errors=True)
        blown, _ = _blown(root, scale)
        rng = np.random.default_rng([seed, scale, 1])
        order = rng.permutation(blown.num_rows)
        # the seed decides which posts share a file; the files hold equal
        # numbers of posts, so that no seed gives one scan task more work
        # than the others (a stage waits for its slowest task)
        cuts = np.linspace(0, blown.num_rows, CORPUS_FILES + 1).astype(int)[1:]
        lo = 0
        for f, hi in enumerate(cuts):
            _write(blown.take(order[lo:hi]),
                   os.path.join(docs_dir, "part-%05d.parquet" % f))
            lo = hi
        _seal(out, want)
    return {"dir": out, "posts": SOURCE_POSTS * scale, "fingerprint": src_fp}


def arrivals(root, seed, scale, seconds, files_per_s, posts_per_file):
    """Arrival files for the open-loop stream, plus a warm-up file."""
    src_dir, src_fp = source(root)
    n_files = int(round(seconds * files_per_s))
    out = os.path.join(root, "arrivals-x%d-s%d-n%d-p%d" % (
        scale, seed, n_files, posts_per_file))
    want = {"gen_version": GEN_VERSION, "seed": seed, "scale": scale,
            "files": n_files, "posts_per_file": posts_per_file,
            "source": src_fp}
    rng = np.random.default_rng([seed, scale, 2])
    edit_share = float(rng.uniform(0.2, 0.6))
    if not _fresh(out, want):
        shutil.rmtree(out, ignore_errors=True)
        base = pq.read_table(os.path.join(src_dir, "documents.parquet")).to_pydict()
        n_posts = n_files * posts_per_file
        is_edit = rng.random(n_posts) < edit_share
        # each stored doc_id is edited at most once, so the final corpus
        # state does not depend on which poll saw which file
        targets = rng.choice(SOURCE_POSTS * scale, size=int(is_edit.sum()),
                             replace=False)
        t_iter, new_id = iter(targets.tolist()), NEW_ID_BASE
        ids, txt, langs = [], [], []
        for e in is_edit:
            if e:
                j = next(t_iter)
                k, i = divmod(j, SOURCE_POSTS)
                doc_id, lang = i + k * REPLICA_OFFSET, base["lang"][i]
            else:
                k = int(rng.integers(0, scale))
                doc_id, lang = new_id, str(rng.choice(LANGS, p=LANG_P))
                new_id += 1
            ids.append(doc_id)
            langs.append(lang)
            txt.append(replica_text(random_text(rng), k))
        for f in range(n_files):
            s = slice(f * posts_per_file, (f + 1) * posts_per_file)
            _write(_table(ids[s], txt[s], langs[s]),
                   os.path.join(out, "files", "a_%05d.parquet" % f))
        w_langs = [LANGS[i % len(LANGS)] for i in range(posts_per_file)]
        _write(_table([WARMUP_ID_BASE + i for i in range(posts_per_file)],
                      [random_text(rng) for _ in w_langs], w_langs),
               os.path.join(out, "warmup", "w_00000.parquet"))
        _seal(out, want)
    return {"dir": out, "files": n_files, "posts_per_file": posts_per_file,
            "edit_share": edit_share, "fingerprint": src_fp}
