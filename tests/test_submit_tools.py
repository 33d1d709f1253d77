"""The spark-submit entry points (tools/submit_job.py,
tools/submit_corpus_chain.py) pick their session the same way: an explicit
--master wins over --local, which means local[N]."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


class _Chosen(Exception):
    pass


@pytest.mark.parametrize("tool", ["submit_job", "submit_corpus_chain"])
@pytest.mark.parametrize(
    "flags, master",
    [
        (["--master", "local[2]"], "local[2]"),
        (["--local", "3"], "local[3]"),
        (["--master", "local[2]", "--local", "3"], "local[2]"),
    ],
)
def test_submit_tools_honour_master(tool, flags, master, monkeypatch, tmp_path):
    import importlib

    from powershap_spark import session

    def fake_get_spark(master=None, **kw):
        raise _Chosen(master)

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    cli = importlib.import_module(tool)
    argv = ["--crawl-dir", str(tmp_path), "--work-dir", str(tmp_path)]
    with pytest.raises(_Chosen) as chosen:
        cli.main((argv if tool == "submit_corpus_chain" else []) + flags)
    assert chosen.value.args == (master,)
