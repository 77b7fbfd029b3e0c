"""The job CLI (pdf_extractor_spark/job.py): every refusal exits 2 before
the JVM starts, every documented invocation parses, and every script the
docs name exists."""

from __future__ import annotations

import os
import re
import shlex
from pathlib import Path

import pytest

from pdf_extractor_spark import job

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv -> the stderr fragment argparse (or a pre-JVM check) prints. SRC is
# a committed table root, OUT a fresh path, BADPW a manifest whose header
# is swapped (spark.read.csv would misread it by position).
UNRECOGNIZED = "unrecognized arguments"
NOT_A_TABLE = "is not a committed table root"
REFUSALS = {
    # two stages at once, or a flag of another stage
    "curate-with-signals": (["curate", "--signals", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "curate-synthetic": (["curate", "--input", "synthetic:10", "--output", "OUT"], NOT_A_TABLE),
    "curate-export-zip": (["curate", "--export-zip", "z.zip", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "extract-rebuild": (["extract", "--rebuild", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "extract-kept-from": (["extract", "--kept-from", "SRC", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "signals-over-kept": (["signals", "--over-kept", "SRC", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "neardup-over-kept-no-rebuild": (["neardup", "--over-kept", "SRC", "--input", "SRC", "--output", "OUT"], "requires --rebuild"),
    "neardup-with-signals": (["neardup", "--signals", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "neardup-synthetic": (["neardup", "--input", "synthetic:10", "--output", "OUT"], NOT_A_TABLE),
    "neardup-curate-gate": (["neardup", "--min-logit-micros", "5", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "migrate-with-rebuild": (["maintain", "SRC", "--migrate-layout", "--rebuild"], UNRECOGNIZED),
    "migrate-with-input": (["maintain", "SRC", "--migrate-layout", "--input", "x"], UNRECOGNIZED),
    "migrate-with-compact": (["maintain", "SRC", "--migrate-layout", "--compact"], "not allowed with"),
    "maintain-no-action": (["maintain", "SRC"], "one of the arguments"),
    "maintain-typo-root": (["maintain", "OUT", "--compact"], NOT_A_TABLE),
    "watch-password-manifest": (["watch", "--input", "SRC", "--output", "OUT", "--password-manifest", "BADPW"], UNRECOGNIZED),
    "watch-synthetic": (["watch", "--input", "synthetic:10", "--output", "OUT"], "is not a drop directory"),
    "watch-checkpoint": (["watch", "--checkpoint", "x", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "manifest-bad-header": (["extract", "--input", "SRC", "--output", "OUT", "--password-manifest", "BADPW"], "needs header columns doc_id,password"),
    "manifest-missing": (["extract", "--input", "SRC", "--output", "OUT", "--password-manifest", "OUT"], "does not exist"),
    "materialize-no-pack-table": (["materialize", "--input", "SRC", "--output", "OUT"], "--pack-table"),
    "extract-pack-table": (["extract", "--input", "x", "--output", "OUT", "--pack-table", "p"], UNRECOGNIZED),
    "signals-cost": (["signals", "--input", "SRC", "--output", "OUT", "--cost", "bpe"], UNRECOGNIZED),
    "materialize-cost": (["materialize", "--input", "SRC", "--output", "OUT", "--pack-table", "SRC", "--cost", "bpe"], UNRECOGNIZED),
    "materialize-with-signals": (["materialize", "--input", "SRC", "--output", "OUT", "--pack-table", "SRC", "--signals"], UNRECOGNIZED),
    "pack-kept-no-rebuild": (["pack", "--kept-from", "SRC", "--input", "SRC", "--output", "OUT"], "requires --rebuild"),
    "pack-neardups-no-kept": (["pack", "--drop-neardups-from", "SRC", "--rebuild", "--input", "SRC", "--output", "OUT"], "requires --kept-from"),
    "export-typo-kept-from": (["export", "SRC", "OUT", "--kept-from", "OUT"], NOT_A_TABLE),
    "export-typo-with-ocr-text": (["export", "SRC", "OUT", "--with-ocr-text", "OUT"], NOT_A_TABLE),
    "watch-route-needs-ocr": (["watch", "--route-needs-ocr", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "ocr-checkpoint": (["ocr", "--checkpoint", "x", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "refresh-n-parts": (["refresh", "--parts", "1", "--n-parts", "4", "--input", "SRC", "--output", "OUT"], UNRECOGNIZED),
    "refresh-parts-not-int": (["refresh", "--parts", "3,x", "--input", "SRC", "--output", "OUT"], "invalid _part_ids value"),
    "n-parts-zero": (["extract", "--n-parts", "0", "--input", "SRC", "--output", "OUT"], "is not >= 1"),
    "parts-per-chunk-zero": (["extract", "--parts-per-chunk", "0", "--input", "SRC", "--output", "OUT"], "is not >= 1"),
    "num-partitions-zero": (["watch", "--num-partitions", "0", "--input", "SRC", "--output", "OUT"], "is not >= 1"),
    "shards-zero": (["export", "SRC", "OUT", "--shards", "0"], "is not >= 1"),
    "show-typo-root": (["show", "OUT", "d1"], NOT_A_TABLE),
    "show-page-zero": (["show", "SRC", "d1", "--page", "0"], "is not >= 1"),
}


@pytest.mark.parametrize("case", sorted(REFUSALS))
def test_refusal_exits_2(case, tmp_path, monkeypatch, capsys):
    argv, fragment = REFUSALS[case]
    src = tmp_path / "src"
    (src / "commits").mkdir(parents=True)
    badpw = tmp_path / "pw.csv"
    badpw.write_text("password,doc_id\nhunter2,d1\n")
    paths = {"SRC": str(src), "OUT": str(tmp_path / "out"), "BADPW": str(badpw)}

    def no_jvm(master):
        raise AssertionError("refusal reached Spark session start")

    monkeypatch.setattr(job, "_spark", no_jvm)
    with pytest.raises(SystemExit) as e:
        job.main([paths.get(a, a) for a in argv])
    assert e.value.code == 2
    assert fragment in capsys.readouterr().err


@pytest.mark.parametrize("n_parts,parts_per_chunk", [(4, 0), (0, 4)])
def test_run_extraction_refuses_empty_chunks(tmp_path, n_parts, parts_per_chunk):
    """parts_per_chunk=0 used to commit an empty chunk forever; the check
    runs before any chunk id is reserved."""
    from pdf_extractor_spark.spark.lineage import CommitLog, run_extraction

    log = CommitLog(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="must be >= 1"):
        run_extraction(None, None, log, n_parts=n_parts, parts_per_chunk=parts_per_chunk)
    assert os.listdir(log.commits_dir) == [] and os.listdir(log.data_dir) == []


def _documented_invocations() -> list[str]:
    """Every ``job.py ...`` command in the verify skill's bash blocks and
    README's Running block, with line continuations joined."""
    with open(os.path.join(ROOT, ".claude/skills/verify/SKILL.md")) as f:
        blocks = re.findall(r"```bash\n(.*?)```", f.read(), re.S)
    with open(os.path.join(ROOT, "README.md")) as f:
        running = f.read().split("\n## Running\n", 1)[1]
    blocks += re.findall(r"```bash\n(.*?)```", running, re.S)[:1]
    text = "\n".join(blocks).replace("\\\n", " ")
    return [m.strip() for m in re.findall(r"job\.py ([^\n#]*)", text)]


def test_documented_invocations_parse():
    cmds = _documented_invocations()
    assert len(cmds) >= 10
    parser = job.build_parser()
    stages = set()
    for cmd in cmds:
        # <placeholder with spaces> -> one token
        argv = shlex.split(re.sub(r"<[^>]*>", "X", cmd))
        stages.add(parser.parse_args(argv).stage)
    assert stages >= {"extract", "refresh", "watch", "ocr", "signals", "export", "maintain",
                      "show"}


_MODULE_PATH = re.compile(r"(?<![\w/.-])(\w+/\w+\.py)\b")


def _unresolved_module_paths(text: str) -> list[str]:
    """The ``dir/name.py`` paths in ``text`` that resolve neither from the
    repo root (``tools/…``, ``tests/…``) nor under the package
    (``spark/preview.py``, ``core/…``)."""
    root = Path(ROOT)
    return sorted({
        m for m in _MODULE_PATH.findall(text)
        if not (root / m).exists() and not (root / "pdf_extractor_spark" / m).exists()
    })


def test_documented_scripts_exist():
    """Every bench.py / tools/<name>.py / perfbench/<name>.py path the docs
    or a non-test module name exists, and every ``dir/name.py`` module path
    the docs name resolves — a retired script or module leaves no pointer
    behind. History files (BENCH/, ROADMAP.md, CHANGES.md) are exempt."""
    root = Path(ROOT)
    docs = [root / "README.md", root / "CLAUDE.md",
            root / ".claude/skills/verify/SKILL.md"]
    stale = {str(d.relative_to(root)): _unresolved_module_paths(d.read_text()) for d in docs}
    assert not any(stale.values()), stale
    assert _unresolved_module_paths("`sources/fetch.py` (mapInPandas)") == ["sources/fetch.py"]
    sources = list(docs)
    sources += root.glob("*.py")
    for pkg in ("pdf_extractor_spark", "tools", "perfbench"):
        sources += (root / pkg).rglob("*.py")
    script = re.compile(r"(?<![\w/.-])((?:tools|perfbench)/\w+\.py|bench\.py)\b")
    named = {
        (str(src.relative_to(root)), m)
        for src in sources
        for m in script.findall(src.read_text())
    }
    assert len(named) >= 10
    missing = sorted((src, m) for src, m in named if not (root / m).exists())
    assert not missing, missing


def test_default_master_lets_a_launcher_master_stand():
    """Under spark-submit (a gateway handed over in PYSPARK_GATEWAY_PORT)
    get_spark sets no master, so the launcher's --master stands; a plain
    python launch gets local[$SPARK_GRAFT_CPUS]. Starts no JVM."""
    from pdf_extractor_spark.spark.session import default_master

    assert default_master({}) == "local[32]"
    assert default_master({"SPARK_GRAFT_CPUS": "4"}) == "local[4]"
    assert default_master({"PYSPARK_GATEWAY_PORT": "41234", "SPARK_GRAFT_CPUS": "4"}) is None
    assert default_master({"PYSPARK_GATEWAY_PORT": "41234", "SPARK_GRAFT_MASTER": "local[2]"}) == "local[2]"
