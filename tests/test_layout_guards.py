"""Structural guards: the band-store layout, the dynamic partition
overwrite and the word n-gram assembly are each written in one module,
every document the code cites exists, no operator grows a second
implementation behind a selector parameter, and the flatten functions
take every type from the staging contract."""

import ast
import pathlib
import re
import subprocess

import facolos_data_pipelines_spark

PACKAGE = pathlib.Path(facolos_data_pipelines_spark.__file__).parent
ROOT = PACKAGE.parent


def _modules_naming(text: str) -> list[str]:
    return [
        str(path.relative_to(PACKAGE))
        for path in sorted(PACKAGE.rglob("*.py"))
        if text in path.read_text()
    ]


def test_band_store_layout_only_in_band_index():
    """The manifest file name and the ``bucket_pmod`` layout belong to
    ``operators.band_index.BandStore``."""
    for text in ("_NEAR_DUP_STORE_META", "bucket_pmod"):
        assert _modules_naming(text) == ["operators/band_index.py"], text


def test_partition_overwrite_only_in_io():
    """Every dynamic partition overwrite goes through
    ``sources.io.overwrite_partitions``."""
    assert _modules_naming("partitionOverwriteMode") == ["sources/io.py"]


def test_word_gram_window_written_once():
    """The posexplode + ``lead`` word n-gram assembly exists once, in
    ``operators/dedup_minhash.py``; every text and dedup operator
    filters its rows."""
    count = {
        str(path.relative_to(PACKAGE)): path.read_text().count('F.lead("_w"')
        for path in sorted(PACKAGE.rglob("*.py"))
    }
    assert {m: c for m, c in count.items() if c} == {"operators/dedup_minhash.py": 1}


def test_cited_docs_exist():
    """Every ``*.md`` path cited by the package, ``__spark_entry__.py`` or
    ``bench.py`` is a tracked file under the repository root."""
    tracked = set(
        subprocess.run(
            ["git", "ls-files", "*.md"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.split()
    )
    sources = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    cited = {
        (str(path.relative_to(ROOT)), doc)
        for path in sources
        for doc in re.findall(r"[\w./-]+\.md\b", path.read_text())
    }
    assert cited
    assert sorted(c for c in cited if c[1] not in tracked) == []


def test_no_impl_selector_params():
    """Each stage has one kernel: no function in the package takes a
    parameter named ``impl`` or ``arrow_verify_threshold``, or one
    ending in ``_impl``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            a = node.args
            for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]:
                if arg is not None and (
                    arg.arg == "impl"
                    or arg.arg.endswith("_impl")
                    or arg.arg == "arrow_verify_threshold"
                ):
                    offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {arg.arg}")
    assert offenders == []


def test_flatten_types_come_from_the_contract():
    """The flatten functions do structure only: neither contains a
    ``.cast(`` call (every type comes from ``STAGING_TABLES`` through
    ``conform.to_staging``), and no per-kind coercion wrapper around
    ``safe_cast`` is defined in the package."""
    flatten = {"flatten_tiktok_orders", "flatten_misa_sale_orders"}
    wrappers = {"safe_numeric", "safe_timestamp", "safe_boolean"}
    casts, defined, seen = [], [], set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name in wrappers:
                defined.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {node.name}")
            if node.name in flatten:
                seen.add(node.name)
                casts += [
                    f"{node.name}:{call.lineno}"
                    for call in ast.walk(node)
                    if isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "cast"
                ]
    assert seen == flatten
    assert casts == [] and defined == []
