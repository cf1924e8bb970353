"""scripts/code_loc.py counts code lines only: comments, blank lines and
docstrings are not code, and a multi-line expression is one line per
physical line.  JVM-free."""

from __future__ import annotations

import textwrap

from scripts.code_loc import code_lines, main

SOURCE = textwrap.dedent(
    '''\
    """Module docstring,
    two lines."""

    # a comment line
    import os  # a trailing comment


    class Thing:
        """Class docstring."""

        def method(self):
            """Method
            docstring."""
            return os.path.join(
                "a",
                "b",
            )


    async def coro():
        """Coroutine docstring."""
        x = 1

        return x
    '''
)


def test_counts_code_lines_only():
    # import, class, def, the 4-line return expression, async def,
    # x = 1, return x
    assert code_lines(SOURCE) == 10


def test_a_non_docstring_string_is_code():
    assert code_lines('x = 1\n"""not a docstring"""\n') == 2


def test_main_prints_per_file_and_total(tmp_path, capsys):
    (tmp_path / "a.py").write_text(SOURCE)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.py").write_text("y = 2\n")
    (tmp_path / "notes.txt").write_text("not python\n")
    assert main([str(tmp_path)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == [
        f"10 {tmp_path / 'a.py'}",
        f"1 {tmp_path / 'sub' / 'b.py'}",
        "11 total",
    ]
