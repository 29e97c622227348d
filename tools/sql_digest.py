#!/usr/bin/env python
"""Digest every SQL string the query builders render, to check that a
refactor of the builders leaves the SQL unchanged.

Rendered, one name each:

* every ``htmlgraft`` function with a ``duck`` parameter whose other
  parameters all have defaults, once per dialect
  (``module.func[duck]`` / ``module.func[spark]``);
* every zero-argument ``*_sql`` / ``*_cte`` / ``*_oracle`` builder in
  ``htmlgraft`` (``module.func``);
* every value of ``__spark_entry__.oracle_sql()`` (``oracle:<query>``).

Each string is hashed (sha256) after runs of whitespace collapse to one
space, so re-indenting a template does not count as a change.  Output is
one ``<sha256>  <name>`` line per name, sorted by name.  A builder that
raises prints ``error:<Type>`` in place of the digest; a function that
returns something other than a string (the dialect table) is left out.

Usage:
  python tools/sql_digest.py [--root CHECKOUT] > digests.txt
  python tools/sql_digest.py --diff A B

``--diff`` takes two digest files, or two checkouts (each rendered by this
script with ``--root``), and prints the names whose digest differs (exit
status 1 if there is any), then the names only one side has (a builder
added or deleted; information only).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import inspect
import os
import pkgutil
import re
import subprocess
import sys

_WS = re.compile(r"\s+")
_ZERO_ARG = re.compile(r".*_(sql|cte|oracle)$")


def _digest(text) -> str:
    return hashlib.sha256(_WS.sub(" ", str(text)).strip().encode()).hexdigest()


def _call(fn, **kw) -> str | None:
    try:
        out = fn(**kw)
    except Exception as exc:  # noqa: BLE001 - the digest records the failure
        return f"error:{type(exc).__name__}"
    return _digest(out) if isinstance(out, str) else None


def _defaulted(sig: inspect.Signature, skip: str = "") -> bool:
    return all(
        p.default is not p.empty or p.kind in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
        for name, p in sig.parameters.items()
        if name != skip
    )


def render(root: str) -> dict[str, str]:
    sys.path.insert(0, root)
    import htmlgraft

    out: dict[str, str] = {}
    for info in pkgutil.iter_modules(htmlgraft.__path__):
        mod = importlib.import_module(f"htmlgraft.{info.name}")
        for name, fn in vars(mod).items():
            if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            try:
                sig = inspect.signature(fn)
            except (TypeError, ValueError):
                continue
            qual = f"{info.name}.{name}"
            if "duck" in sig.parameters and _defaulted(sig, "duck"):
                out[qual + "[duck]"] = _call(fn, duck=True)
                out[qual + "[spark]"] = _call(fn, duck=False)
            elif _ZERO_ARG.match(name) and _defaulted(sig):
                out[qual] = _call(fn)
    out = {name: h for name, h in out.items() if h is not None}
    import __spark_entry__

    for name, sql in __spark_entry__.oracle_sql().items():
        out["oracle:" + name] = _digest(sql)
    return out


def _load(path: str) -> dict[str, str]:
    if os.path.isdir(path):
        text = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--root", path],
            check=True, capture_output=True, text=True,
        ).stdout
    else:
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
    pairs = (line.split(None, 1) for line in text.splitlines() if line.strip())
    return {name.strip(): h for h, name in pairs}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.diff:
        a, b = (_load(p) for p in args.diff)
        bad = sorted(n for n in a.keys() & b.keys() if a[n] != b[n])
        for name in bad:
            print(f"{name}: {a[name]} -> {b[name]}")
        for name in sorted(a.keys() ^ b.keys()):
            print(("only in A: " if name in a else "only in B: ") + name)
        print(f"{len(a)} vs {len(b)} names, {len(bad)} differ", file=sys.stderr)
        return 1 if bad else 0
    for name, h in sorted(render(os.path.abspath(args.root)).items()):
        print(f"{h}  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
