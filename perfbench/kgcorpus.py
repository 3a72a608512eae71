"""Seeded source-code corpora for the two pipeline workloads.

Both generators are pure functions of (seed, size): the same seed gives a
byte-identical corpus, and each writes its golden (subj, pred, obj) set
next to the corpus so the benchmark can score the pipeline's triples
without re-running the extractor.

* ``decode`` is a seeded copy of ``kgflow.fixtures._file_record``: large
  high-entropy files over a tiny vocabulary, so content decode (sha2 and
  the 17 extraction regexes) carries the run and link/canonicalize carry
  little.  The filler lines are slices of one seeded pool of random-hex
  comment lines instead of per-token ``getrandbits`` calls, which keeps
  generation fast without changing what the extractor sees.
* ``vocab`` is many small files whose declarations come from a large,
  Zipf-skewed vocabulary.  Every base name appears in several alias
  styles (snake, camel, Pascal, SCREAMING, numeric suffix), and bases
  are random letter strings, so distinct bases share almost no
  3-shingles and stay far below the linker's Jaccard threshold.  Link,
  canonicalize and the hot-node spreading in materialize carry the run.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
from multiprocessing import resource_tracker
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_SCHEMA = pa.schema(
    [("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
     ("lang", pa.string()), ("content", pa.string())]
)
GOLDEN_SCHEMA = pa.schema(
    [("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string())]
)

LANGS = ["python", "javascript", "java", "go", "sql"]
EXT = {"python": "py", "javascript": "js", "java": "java", "go": "go", "sql": "sql"}

# kgflow.fixtures' vocabulary: 16 bases x 4 styles (+ numeric suffixes)
BASE_SYMBOLS = [
    "parse_config", "http_client", "load_model", "run_query", "merge_rows",
    "hash_key", "split_text", "read_stream", "write_batch", "score_item",
    "rank_docs", "build_index", "fetch_page", "clean_value", "emit_event",
    "sync_state",
]
MODULES = [
    "os_path", "net_http", "json_codec", "math_stats", "db_driver", "log_setup",
    "cache_layer", "vec_ops", "auth_token", "cfg_loader", "retry_policy",
    "time_sync",
]
# never collides with an extraction regex (no import/class/def/... tokens)
FILLER = (
    "alpha beta gamma delta epsilon zeta theta kappa sigma omega "
    "widget handle buffer cursor ledger packet branch vertex tuple"
).split()


def _camel(s: str) -> str:
    parts = s.split("_")
    return parts[0] + "".join(p.capitalize() for p in parts[1:])


def _pascal(s: str) -> str:
    return "".join(p.capitalize() for p in s.split("_"))


ALIAS_STYLES = [lambda s: s, _camel, _pascal, str.upper]


def _filler_pool(seed: int, n_lines: int) -> list[str]:
    """``n_lines`` distinct comment lines of 4 filler words + 5 random
    32-bit hex tokens, the line shape of fixtures._filler_line."""
    rng = np.random.default_rng([seed, 7])
    words = rng.integers(0, len(FILLER), size=(n_lines, 4))
    hexes = rng.bytes(20 * n_lines).hex()
    out = []
    for j in range(n_lines):
        h = hexes[40 * j: 40 * j + 40]
        w = words[j]
        out.append(
            f"# {FILLER[w[0]]} {FILLER[w[1]]} {FILLER[w[2]]} {FILLER[w[3]]} "
            f"{h[0:8]} {h[8:16]} {h[16:24]} {h[24:32]} {h[32:40]}"
        )
    return out


class _Filler:
    def __init__(self, seed: int, lines: tuple[int, int], n_lines: int = 1 << 17):
        self.pool = _filler_pool(seed, n_lines)
        self.lines = lines  # [lo, hi) lines per block; fixtures use (12, 48)

    def block(self, r: random.Random, lo: int = 0, hi: int = 0) -> list[str]:
        k = r.randrange(lo or self.lines[0], hi or self.lines[1])
        j = r.randrange(0, len(self.pool) - k)
        return self.pool[j: j + k]


def _render(lang: str, decls: list[str], imports: list[str], calls: list[str],
            fill) -> str:
    """kgflow.fixtures._render's templates; ``fill`` returns filler lines."""
    lines: list[str] = []
    lines.extend(fill())
    if lang == "python":
        lines.extend(f"import {m}" for m in imports)
        lines.extend(fill())
        for s in decls:
            if s[0].isupper():
                lines += [f"class {s}:", "    pass"]
            else:
                lines += [f"def {s}(x, y):", "    return x"]
            lines.extend(fill())
        lines.extend(f"{c}(1, 2)" for c in calls)
    elif lang == "javascript":
        # alternate the two import forms deterministically by position
        for k, m in enumerate(imports):
            lines.append(f"import {{ thing }} from '{m}'" if k % 2 == 0
                         else f"const m = require('{m}')")
        lines.extend(fill())
        for s in decls:
            lines.append(f"class {s} {{}}" if s[0].isupper()
                         else f"function {s}(a, b) {{ return a }}")
            lines.extend(fill())
        lines.extend(f"{c}(1)" for c in calls)
    elif lang == "java":
        lines.extend(f"import {m}.Core;" for m in imports)
        lines.extend(fill())
        for s in decls:
            lines.append(f"class {s} {{ }}")
            lines.extend(fill())
    elif lang == "go":
        lines.extend(f'import "{m}"' for m in imports)
        lines.extend(fill())
        for s in decls:
            lines.append(f"func {s}(n int) int {{ return n }}")
            lines.extend(fill())
        lines.extend(f"{c}(7)" for c in calls)
    elif lang == "sql":
        for s in decls:
            lines.append(f"CREATE TABLE {s} (id INT);")
            lines.extend(fill())
        lines.extend(f"SELECT id FROM {m};" for m in imports)
    return "\n".join(lines)


def _row(repo, path, commit, lang, content, decls, imports, calls=()):
    file_ref = f"{repo}/{path}"
    golden = [(file_ref, "WRITTEN_IN", lang)]
    golden += [(repo, "DECLARES", s) for s in decls]
    golden += [(file_ref, "IMPORTS", m) for m in imports]
    golden += [(file_ref, "CALLS", c) for c in calls]
    return (repo, path, commit, lang, content), golden


def _repo_for(r: random.Random, n_repos: int) -> str:
    # Zipf-ish: repo 0 receives a disproportionate share of files
    idx = int(n_repos * (r.random() ** 2.5))
    return f"org{idx % 7}/repo{idx}"


def _decode_record(seed: int, i: int, n_files: int, filler: _Filler):
    """Seeded fixtures._file_record, fixed edge cases included."""
    r = random.Random(f"{seed}:{i}")
    n_repos = max(4, int(n_files ** 0.5) // 2)
    repo = _repo_for(r, n_repos)
    lang = LANGS[r.randrange(len(LANGS))]
    path = f"src/pkg{r.randrange(9)}/mod_{i}.{EXT[lang]}"
    commit = hashlib.sha1(f"{seed}:{repo}:{i // 50}".encode()).hexdigest()
    if i == 1:  # empty file
        return _row(repo, path, commit, lang, "", [], [])
    if i == 2:  # filler only
        return _row(repo, path, commit, lang, "\n".join(filler.block(r, 5, 6)), [], [])
    if i == 9:  # NULL content still yields WRITTEN_IN
        return _row(repo, path, commit, lang, None, [], [])
    if i == 4:  # same (repo, path) as i=3 under another commit
        (rp, pth, _, lg, content), golden = _decode_record(seed, 3, n_files, filler)
        alt = hashlib.sha1(f"{seed}:alt:3".encode()).hexdigest()
        return (rp, pth, alt, lg, content), golden
    if i == 8:  # identical content to i=7 under another path
        (rp, pth, cm, lg, content), golden = _decode_record(seed, 7, n_files, filler)
        alt_path = f"src/pkg_dup/mod_{i}.{EXT[lg]}"
        golden = [(s.replace(pth, alt_path), p, o) for s, p, o in golden]
        return (rp, alt_path, cm, lg, content), golden

    decls = []
    for _ in range(r.randrange(2, 7)):
        style = ALIAS_STYLES[r.randrange(len(ALIAS_STYLES))]
        sym = style(r.choice(BASE_SYMBOLS))
        decls.append(sym + f"_{r.randrange(20)}" if r.random() < 0.3 else sym)
    imports = list(dict.fromkeys(r.choice(MODULES) for _ in range(r.randrange(2, 6))))
    decls = list(dict.fromkeys(decls))
    if i == 5:  # unicode identifiers
        decls = ["café_handler", "übermodel"]
        lang, path = "python", f"src/pkg0/mod_{i}.py"
    calls = [d for d in decls if r.random() < 0.5] if lang in ("python", "javascript", "go") else []
    body = _render(lang, decls, imports, calls, lambda: filler.block(r))
    if i == 6:  # ~256 KB file: the skew probe
        pad = filler.pool[0]
        body += "\n" + "\n".join([pad] * (256 * 1024 // (len(pad) + 1)))
    return _row(repo, path, commit, lang, body, decls, imports, calls)


_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _vocab_bases(seed: int, n_bases: int) -> list[str]:
    """Distinct snake_case bases of two random 4-6 letter words."""
    r = random.Random(f"{seed}:bases")
    seen: dict[str, None] = {}
    while len(seen) < n_bases:
        words = ["".join(r.choices(_LETTERS, k=r.randrange(4, 7))) for _ in range(2)]
        seen["_".join(words)] = None
    return list(seen)


def _vocab_record(seed: int, i: int, n_files: int, bases: list[str],
                  cdf: np.ndarray, decls_per_file: int):
    r = random.Random(f"{seed}:v{i}")
    n_repos = max(4, int(n_files ** 0.5))
    repo = _repo_for(r, n_repos)
    lang = ("python", "go", "java", "javascript")[r.randrange(4)]
    path = f"src/pkg{r.randrange(9)}/mod_{i}.{EXT[lang]}"
    commit = hashlib.sha1(f"{seed}:{repo}:{i // 50}".encode()).hexdigest()
    ranks = np.searchsorted(cdf, [r.random() for _ in range(decls_per_file)])
    decls = []
    for k in ranks:
        style = ALIAS_STYLES[r.randrange(len(ALIAS_STYLES))]
        sym = style(bases[min(int(k), len(bases) - 1)])
        decls.append(sym + f"_{r.randrange(4)}" if r.random() < 0.2 else sym)
    decls = list(dict.fromkeys(decls))
    imports = [MODULES[r.randrange(len(MODULES))]]
    body = _render(lang, decls, imports, [], lambda: [])
    return _row(repo, path, commit, lang, body, decls, imports)


class _Maker:
    """Row maker for one (kind, seed, size); built once per worker."""

    def __init__(self, kind: str, seed: int, n_files: int, filler_lines=(12, 48),
                 n_bases: int = 0, decls_per_file: int = 0):
        if kind == "decode":
            filler = _Filler(seed, tuple(filler_lines))
            self.make = lambda i: _decode_record(seed, i, n_files, filler)
        elif kind == "vocab":
            bases = _vocab_bases(seed, n_bases)
            weights = 1.0 / np.arange(1, n_bases + 1)  # Zipf, s = 1
            cdf = np.cumsum(weights) / weights.sum()
            self.make = lambda i: _vocab_record(seed, i, n_files, bases, cdf, decls_per_file)
        else:
            raise ValueError(f"unknown corpus kind {kind!r}")


_WORKER: "_Maker | None" = None


def _init_worker(size: dict, seed: int) -> None:
    global _WORKER
    _WORKER = _Maker(seed=seed, **size)


def _write_part(path: str, lo: int, hi: int):
    """Rows [lo, hi) to one parquet file; returns (digest, golden, bytes)."""
    cols: list[list] = [[], [], [], [], []]
    golden: set[tuple[str, str, str]] = set()
    digest = hashlib.sha256()
    raw = 0
    for i in range(lo, hi):
        row, gold = _WORKER.make(i)
        for c, v in zip(cols, row):
            c.append(v)
        golden.update(gold)
        content = row[4]
        raw += len(content or "")
        digest.update("\x1f".join([*row[:4], "\x00" if content is None else content]).encode())
        digest.update(b"\x1e")
    table = pa.Table.from_arrays([pa.array(c, pa.string()) for c in cols], schema=SOURCE_SCHEMA)
    # ~4 MB row groups, so scan splits feed every core
    rows_per_group = max(64, int(4e6 * (hi - lo) / max(1, raw)))
    pq.write_table(table, path, row_group_size=rows_per_group, compression="snappy")
    return digest.hexdigest(), golden, raw


def generate(seed: int, out_dir: str, size: dict, n_parts: int = 8,
             workers: int = 4) -> dict:
    """Write ``out_dir/corpus/part-*.parquet`` and ``out_dir/golden.parquet``
    for ``size`` (kind, n_files and the kind's vocabulary knobs).

    Parts are generated by ``workers`` spawned processes.  The returned
    corpus digest is a sha256 over every row in order, identical for
    identical (seed, size)."""
    os.makedirs(os.path.join(out_dir, "corpus"), exist_ok=True)
    bounds = np.linspace(0, size["n_files"], n_parts + 1).astype(int)
    jobs = [(os.path.join(out_dir, "corpus", f"part-{k:03d}.parquet"), int(lo), int(hi))
            for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers, initializer=_init_worker, initargs=(size, seed)) as pool:
        parts = pool.starmap(_write_part, jobs)
    del pool
    # the spawned pool's semaphores started multiprocessing's resource
    # tracker, a child that would outlive this process: stop it and wait
    resource_tracker._resource_tracker._stop()
    digest = hashlib.sha256()
    golden: set[tuple[str, str, str]] = set()
    for part_digest, gold, _ in parts:
        digest.update(part_digest.encode())
        golden.update(gold)
    g = sorted(golden)
    pq.write_table(
        pa.Table.from_arrays([pa.array([t[k] for t in g], pa.string()) for k in range(3)],
                             schema=GOLDEN_SCHEMA),
        os.path.join(out_dir, "golden.parquet"),
    )
    return {"n_files": size["n_files"], "raw_bytes": sum(p[2] for p in parts),
            "golden_triples": len(g), "corpus_digest": digest.hexdigest()}


def cached(workload: str, seed: int, cache_root: str, size: dict) -> dict:
    """Corpus for (workload, seed, size) under ``cache_root``, generated
    on first use.  Corpora of other seeds or sizes of the same workload
    are removed first, so the cache holds one corpus per workload."""
    size_tag = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:12]
    out_dir = os.path.join(cache_root, f"{workload}-{seed}-{size_tag}")
    summary_path = os.path.join(out_dir, "summary.json")
    if not os.path.exists(summary_path):
        os.makedirs(cache_root, exist_ok=True)
        for old in os.listdir(cache_root):
            if old.startswith(f"{workload}-"):
                shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
        summary = generate(seed, out_dir, size)
        with open(summary_path + ".tmp", "w") as fh:
            json.dump(summary, fh)
        os.replace(summary_path + ".tmp", summary_path)
    with open(summary_path) as fh:
        summary = json.load(fh)
    return {**summary, "dir": out_dir,
            "corpus": os.path.join(out_dir, "corpus"),
            "golden": os.path.join(out_dir, "golden.parquet")}
