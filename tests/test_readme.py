"""Execute the README's quickstart code blocks against real data.

Parity target: the reference runs its README as a test package
(``/root/reference/README.md:66-80`` via ``test-readme/`` and
markdown-unlit), so documentation drift fails CI. Same contract here:
the ``python`` usage block and the CLI invocation are EXTRACTED FROM
README.md at test time and executed — edit the README and these tests
run the new text.
"""

import os
import shlex
import shutil

import pytest

README = os.path.join(os.path.dirname(__file__), os.pardir, "README.md")
DATA = os.path.join(os.path.dirname(__file__), "data")


def _blocks(lang: str) -> list[str]:
    """Fenced code blocks with the given info string ('' = bare ```),
    parsed sequentially so fences pair up like a markdown renderer's."""
    out, cur, cur_lang = [], None, None
    for line in open(README, encoding="utf-8").read().splitlines(keepends=True):
        if cur is None and line.startswith("```"):
            cur, cur_lang = [], line[3:].strip()
        elif cur is not None and line.rstrip() == "```":
            if cur_lang == lang:
                out.append("".join(cur))
            cur, cur_lang = None, None
        elif cur is not None:
            cur.append(line)
    return out


def test_readme_python_usage_block(spark, tmp_path, capsys):
    blocks = _blocks("python")
    assert blocks, "README lost its python usage block"

    # The block's relative paths are anchored to a temp dir (Spark
    # resolves relative paths against the JVM's launch directory, not
    # the test's cwd, so plain chdir is not enough); the code itself
    # runs verbatim otherwise. Stage a history with findings inside the
    # block's own interval (since 2024) plus one outside it.
    from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
    from net_spider_spark.ingest import write_findings

    t0 = 1_717_200_000_000  # 2024-06-01T00:00Z
    findings = [
        FoundNode("n1", t0, [FoundLink("n2", "to_target", {"w": "1"})]),
        FoundNode("n2", t0 + 1000, [FoundLink("n1", "to_subject", {"w": "1"})]),
        FoundNode("n3", 1_000_000, []),  # 1970 — outside `since 2024`
    ]
    write_findings(findings_to_df(spark, findings), f"{tmp_path}/history/")

    for block in blocks:
        code = block.replace('"history/"', f'"{tmp_path}/history/"')
        code = code.replace('"g.graphml"', f'"{tmp_path}/g.graphml"')
        exec(compile(code, "README.md", "exec"), {"spark": spark})

    # the block prints one GraphML document and writes another
    printed = capsys.readouterr().out
    assert printed.startswith('<?xml version="1.0"')
    assert "<node " in printed and "<edge " in printed
    assert "n3" not in printed  # interval filter really applied
    on_disk = open(f"{tmp_path}/g.graphml", encoding="utf-8").read()
    assert on_disk.startswith('<?xml version="1.0"')


def test_readme_cli_block(spark, tmp_path):
    blocks = [b for b in _blocks("") if "net_spider_spark.cli" in b]
    assert blocks, "README lost its CLI example"
    argv = shlex.split(blocks[0].replace("\\\n", " "))
    assert argv[:3] == ["python", "-m", "net_spider_spark.cli"]

    shutil.copy(
        os.path.join(DATA, "syslog_sample.log"), f"{tmp_path}/mesh.log"
    )
    subst = {
        "history/": f"{tmp_path}/history/",
        "mesh.log": f"{tmp_path}/mesh.log",
        "topology.graphml": f"{tmp_path}/topology.graphml",
    }
    argv = [subst.get(a, a) for a in argv]
    # the sample log is from 2021; pin the README's --year value shape
    assert "--year" in argv
    argv[argv.index("--year") + 1] = "2021"
    from net_spider_spark import cli

    rc = cli.main(argv[3:], spark=spark)
    assert rc == 0
    out = open(f"{tmp_path}/topology.graphml", encoding="utf-8").read()
    assert out.startswith('<?xml version="1.0"') and "<node " in out
