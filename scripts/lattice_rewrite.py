"""One-shot mechanical rewrite: convert every scale>=1 round over a
double lineage to the cross-engine floor lattice (functions/lattice.py).

- Python sites: ``F.round(A, k)`` -> ``_flr(A, k)``
- SQL sites:    ``ROUND(A, k)``   -> ``FLOOR(CAST((A) AS DOUBLE) * 1e{k} + 0.5) / 1e{k}``

Scale-0 / single-arg rounds are left alone (the integer half boundary
is exactly representable, so the engines already agree there).
"""

from __future__ import annotations

import re
import sys


def _match_paren(text: str, open_idx: int) -> int:
    """Index of the char after the matching ')' for the '(' at open_idx.
    Quote-aware for single/double quotes."""
    depth = 0
    i = open_idx
    n = len(text)
    while i < n:
        c = text[i]
        if c in "\"'":
            q = c
            i += 1
            while i < n:
                if text[i] == "\\":
                    i += 2
                    continue
                if text[i] == q:
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parens at {open_idx}")


def _split_top(argtext: str) -> list[str]:
    out, depth, cur, i, n = [], 0, [], 0, len(argtext)
    while i < n:
        c = argtext[i]
        if c in "\"'":
            q = c
            cur.append(c)
            i += 1
            while i < n:
                cur.append(argtext[i])
                if argtext[i] == "\\":
                    i += 1
                    if i < n:
                        cur.append(argtext[i])
                elif argtext[i] == q:
                    break
                i += 1
        elif c in "([{":
            depth += 1
            cur.append(c)
        elif c in ")]}":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def rewrite(src: str, token: str, render) -> tuple[str, int, list[str]]:
    """Replace each `token(ARGS)` call site via render(args)->str|None."""
    out = []
    i = 0
    n_rewritten = 0
    skipped = []
    while True:
        j = src.find(token, i)
        if j < 0:
            out.append(src[i:])
            break
        # token must not be preceded by an identifier char (avoid F.bround etc.)
        if j > 0 and (src[j - 1].isalnum() or src[j - 1] in "._"):
            out.append(src[i : j + len(token)])
            i = j + len(token)
            continue
        open_idx = j + len(token) - 1
        assert src[open_idx] == "("
        end = _match_paren(src, open_idx)
        args = _split_top(src[open_idx + 1 : end - 1])
        new = render(args)
        if new is None:
            skipped.append(src[j:end][:90].replace("\n", " "))
            out.append(src[i:end])
        else:
            out.append(src[i:j])
            out.append(new)
            n_rewritten += 1
        i = end
    return "".join(out), n_rewritten, skipped


def _scale(arg: str):
    s = arg.strip()
    if re.fullmatch(r"\d+", s):
        return int(s)
    return None  # non-literal


def py_render(args):
    if len(args) == 3 and not args[2].strip():
        args = args[:2]  # black trailing comma
    if len(args) != 2:
        return None
    k = _scale(args[1])
    if k == 0:
        return None
    a = args[0].strip()
    kk = args[1].strip()
    return f"_flr({a}, {kk})"


def sql_render(args):
    if len(args) == 3 and not args[2].strip():
        args = args[:2]
    if len(args) != 2:
        return None
    k = _scale(args[1])
    if k is None or k == 0:
        return None
    a = args[0].strip()
    return f"FLOOR(CAST(({a}) AS DOUBLE) * 1e{k} + 0.5) / 1e{k}"


def main():
    base = "/root/repo/database_fragmentation_and_query_processor_spark"
    # registry modules: both python and SQL sites
    import glob

    for p in sorted(glob.glob(f"{base}/queries/*.py")):
        src = open(p).read()
        src, n1, sk1 = rewrite(src, "F.round(", py_render)
        src, n2, sk2 = rewrite(src, "ROUND(", sql_render)
        open(p, "w").write(src)
        print(f"{p.rsplit('/', 1)[-1]}: {n1} python rewrites, {n2} SQL rewrites")
        for s in sk1 + sk2:
            print("  SKIP:", s)
    # similarity.py: python sites only (its oracles live in queries/)
    p = f"{base}/operators/similarity.py"
    src = open(p).read()
    src, n3, sk3 = rewrite(src, "F.round(", py_render)
    open(p, "w").write(src)
    print(f"similarity.py: {n3} python rewrites")
    for s in sk3:
        print("  SKIP:", s)


if __name__ == "__main__":
    main()
