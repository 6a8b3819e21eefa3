"""Generate docs/API.md: one line per public function/class across the
package — the navigable index of the whole operator surface. Re-run
after adding operators:  python scripts/gen_api_index.py
"""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PKG = "pyspark_data_quality_spark"
PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docs",
    "API.md",
)


def first_line(obj) -> str:
    doc = inspect.getdoc(obj) or ""
    line = doc.split("\n", 1)[0].strip()
    return line


def render() -> str:
    """The index text ``main`` writes to docs/API.md."""
    root = importlib.import_module(PKG)
    out = [
        "# API index",
        "",
        "Generated by `python scripts/gen_api_index.py` — one line per",
        "public function/class, grouped by module. Import paths are",
        f"`{PKG}.<module>`.",
        "",
    ]
    modules = sorted(
        m.name
        for m in pkgutil.walk_packages(root.__path__, prefix=f"{PKG}.")
        # entry_queries is the driver/oracle certification adapter, not
        # user API — its 120+ dq_* wrappers would drown the index
        if not m.ispkg and m.name != f"{PKG}.entry_queries"
    )
    for name in modules:
        try:
            mod = importlib.import_module(name)
        except Exception as e:  # pragma: no cover - import guard surface
            out.append(f"## {name}\n\n- (import failed: {e})\n")
            continue
        public = getattr(mod, "__all__", None)
        if public is None:
            public = [
                n
                for n, o in vars(mod).items()
                if not n.startswith("_")
                and (inspect.isfunction(o) or inspect.isclass(o))
                and getattr(o, "__module__", None) == name
            ]
        rows = []
        for n in public:
            o = getattr(mod, n, None)
            if o is None:
                continue
            kind = "class" if inspect.isclass(o) else "def"
            rows.append(f"- `{kind} {n}` — {first_line(o)}")
        if rows:
            short = name[len(PKG) + 1 :]
            out.append(f"## {short}\n")
            out.extend(rows)
            out.append("")
    return "\n".join(out) + "\n"


def main() -> None:
    with open(PATH, "w") as f:
        f.write(render())
    print(f"wrote {PATH}")


if __name__ == "__main__":
    main()
