"""Regenerate plans/certified.py from the external driver's CORRECTNESS
history, honestly: a query is certified at round R only if

  1. round R's CORRECTNESS_r0R.json has a green row for it (hash_match
     true, or err == "no_oracle" with a non-null row count), and
  2. the dependency-closure fingerprint (registry._fingerprint formula)
     computed at the TREE THE DRIVER VERIFIED in round R equals the
     fingerprint of the current tree — i.e. nothing the query's output
     depends on has changed since the driver checked it.

This retires the hand-curated exclusion list (r3 ADVICE): an edit to an
operator/functions/streaming module between rounds automatically fails
condition 2 for every dependent query, evicting it into the next
verification window.

Usage:  python tools/regen_certified.py r1=<sha> r2=<sha> r3=<sha>
Writes plans/certified.py in place.

The per-tree fingerprint computation runs in a subprocess with the
extracted tree first on sys.path (the package name is identical across
trees, so they must not share an interpreter). The formula below MUST
stay in sync with registry._fingerprint.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent

# Self-contained fingerprint computation, injected into each tree's
# subprocess. Mirrors registry._fingerprint / _engine_module_files /
# _deps_of / _REGISTRY_HELPERS — keep in sync.
FP_SCRIPT = r'''
import hashlib, inspect, json, pathlib, re, sys

root = pathlib.Path(sys.argv[1])
sys.path.insert(0, str(root))
from unilever_scraping_etl_spark.plans import registry

pkg = root / "unilever_scraping_etl_spark"
INFRA = {"schemas", "session"}
mods = {}
for d in ("operators", "functions", "sources", "streaming"):
    p = pkg / d
    if p.is_dir():
        for f in sorted(p.glob("*.py")):
            if f.stem != "__init__" and f.stem not in INFRA:
                mods[f.stem] = f
fx = pkg / "plans" / "fixtures.py"
if fx.exists():
    mods["fixtures"] = fx


def code_only(src):
    import io, tokenize
    lines = src.splitlines(keepends=True)
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type in (tokenize.COMMENT, tokenize.STRING):
                (sr, sc), (er, ec) = tok.start, tok.end
                for r in range(sr - 1, er):
                    line = lines[r]
                    a = sc if r == sr - 1 else 0
                    b = ec if r == er - 1 else len(line)
                    lines[r] = line[:a] + " " * (b - a) + line[b:]
    except Exception:
        return src
    return "".join(lines)


def deps_of(src):
    code = code_only(src)
    out = set()
    for m in mods:
        if (re.search(rf"(?<![\w.]){re.escape(m)}\.[A-Za-z_]", code)
                or re.search(rf"from\s+[.\w]*\b{re.escape(m)}\b\s+import", code)):
            out.add(m)
    return out


def real_fn(f):
    """Older trees' @q shim predates ``wrapped.__wrapped__ = fn``:
    inspect.unwrap returns the generic 'def wrapped(...)' closure for
    EVERY query there, which would hash the shim instead of the query —
    silently voiding those rounds' certification evidence. Reach
    through the closure to the registered function."""
    f = inspect.unwrap(f)
    while f.__name__ == "wrapped" and f.__closure__:
        inner = [c.cell_contents for c in f.__closure__
                 if callable(getattr(c, "cell_contents", None))]
        if not inner:
            break
        f = inner[0]
    return f


def fp(spec):
    src = inspect.getsource(real_fn(spec.spark))
    for h in ("_spread", "_parse_bytes",
              "_host_fixture_records", "_host_edges",
              "_anchor_queries", "_scratch_dir"):
        helper = getattr(registry, h, None)
        if helper is not None and f"{h}(" in src:
            src += inspect.getsource(helper)
    seen, mod_srcs = set(), {}
    frontier = deps_of(src)
    while frontier:
        m = frontier.pop()
        if m in seen:
            continue
        seen.add(m)
        mod_srcs[m] = mods[m].read_text()
        frontier |= deps_of(mod_srcs[m]) - seen
    dep_part = "".join(
        f"|{m}:{hashlib.md5(mod_srcs[m].encode()).hexdigest()}"
        for m in sorted(mod_srcs))
    return hashlib.md5(
        ((spec.oracle or "") + src + dep_part).encode()).hexdigest()


def wrapper_fp(spec):
    src = inspect.getsource(real_fn(spec.spark))
    return hashlib.md5(((spec.oracle or "") + src).encode()).hexdigest()


print(json.dumps({name: [fp(spec), wrapper_fp(spec)]
                  for name, spec in registry.QUERIES.items()}))
'''


def fingerprints_at(sha: str) -> dict[str, str]:
    with tempfile.TemporaryDirectory() as td:
        tree = pathlib.Path(td) / "tree"
        tree.mkdir()
        tar = subprocess.run(["git", "-C", str(REPO), "archive", sha],
                             check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", str(tree)], input=tar, check=True)
        out = subprocess.run([sys.executable, "-c", FP_SCRIPT, str(tree)],
                             check=True, capture_output=True, text=True)
        return json.loads(out.stdout.strip().splitlines()[-1])


def green_rows(path: pathlib.Path) -> set[str]:
    rows = json.loads(path.read_text())
    ok = set()
    for name, r in rows.items():
        if r.get("hash_match") is True:
            ok.add(name)
        elif r.get("err") == "no_oracle" and r.get("spark_rows") is not None:
            ok.add(name)
    return ok


def main() -> None:
    shas = dict(a.split("=", 1) for a in sys.argv[1:])
    rounds = sorted(int(k[1:]) for k in shas)
    # Use the working tree (not HEAD) for "now": uncommitted edits count.
    out = subprocess.run([sys.executable, "-c", FP_SCRIPT, str(REPO)],
                         check=True, capture_output=True, text=True)
    fp_now = json.loads(out.stdout.strip().splitlines()[-1])

    certified: dict[str, tuple[int, str]] = {}
    ever_green: set[str] = set()
    last_green_wrapper: dict[str, str] = {}
    last_green_round: dict[str, int] = {}
    for r in rounds:
        fps = fingerprints_at(shas[f"r{r}"])
        green = green_rows(REPO / f"CORRECTNESS_r{r:02d}.json")
        ever_green |= green
        for name in green:
            if name not in fps or name not in fp_now:
                continue  # renamed/removed query with a stale green row
            last_green_wrapper[name] = fps[name][1]  # later rounds win
            last_green_round[name] = r
            if fps[name][0] == fp_now[name][0]:
                certified[name] = (r, fp_now[name][0])  # later rounds override

    evicted = sorted(set(fp_now) - set(certified))
    body = "\n".join(f'    "{n}": ({r}, "{f}"),'
                     for n, (r, f) in sorted(certified.items()))
    green_body = "\n".join(f'    "{n}",' for n in sorted(ever_green))
    wrapper_body = "\n".join(f'    "{n}": "{f}",'
                             for n, f in sorted(last_green_wrapper.items()))
    round_body = "\n".join(f'    "{n}": {r},'
                           for n, r in sorted(last_green_round.items()))
    doc = (
        '"""Certification ledger for the external correctness driver.\n'
        "\n"
        "GENERATED by tools/regen_certified.py — do not hand-edit entries.\n"
        "Each entry maps a registered query name to (round_certified,\n"
        "spec_fingerprint). The fingerprint (registry._fingerprint) hashes\n"
        "the oracle SQL + the registered function's source + referenced\n"
        "registry helpers + the source hashes of the query's transitive\n"
        "operators/functions/sources/streaming module dependencies, so an\n"
        "operator-module edit auto-evicts every dependent query back into\n"
        "the verification window (r3 ADVICE) — no hand-curated exclusion\n"
        "list. An entry exists only if the identical fingerprint was\n"
        "verified green by the driver at that round's tree. Certified\n"
        "entries export oldest-round-first so re-certification rotates\n"
        "through the least-recently-checked block.\n"
        "\n"
        "EVER_GREEN lists every query the driver has verified green in ANY\n"
        "round under ANY fingerprint, and LAST_GREEN_WRAPPER_FP records the\n"
        "wrapper-only fingerprint (oracle + registered source, no module\n"
        "deps) each query had at its most recent green run. Export order\n"
        "uses both: never-verified queries first, then evicted queries\n"
        "whose wrapper itself was rewritten since last verified (true\n"
        "semantic edits), then pure dep-evictions (module edits with\n"
        "pinned-identical outputs), then certified oldest-first — so a\n"
        "rewritten query cannot be crowded out of the verification window\n"
        "by a swarm of module-edit evictions.\n"
        "\n"
        "LAST_GREEN_ROUND records the most recent round each query had a\n"
        "green row, so dep-evictions can rotate LEAST-recently-verified\n"
        "first (r16 VERDICT item 4): a query whose certificate is two\n"
        "rounds stale outranks one re-verified last round when both are\n"
        "evicted by the same module edit.\n"
        '"""\n')
    (REPO / "unilever_scraping_etl_spark" / "plans" / "certified.py").write_text(
        doc + "\nCERTIFIED: dict[str, tuple[int, str]] = {\n" + body + "\n}\n"
        + "\nEVER_GREEN: frozenset[str] = frozenset({\n" + green_body + "\n})\n"
        + "\nLAST_GREEN_WRAPPER_FP: dict[str, str] = {\n" + wrapper_body
        + "\n}\n"
        + "\nLAST_GREEN_ROUND: dict[str, int] = {\n" + round_body + "\n}\n")
    print(f"certified: {len(certified)}  evicted (head of window): "
          f"{len(evicted)}")
    print("evicted:", ", ".join(evicted))


if __name__ == "__main__":
    main()
