"""scripts/codelines.py: the code-line counter the change records quote.
Spark-free."""

import importlib.util
import os

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "codelines.py")
_spec = importlib.util.spec_from_file_location("codelines", _SCRIPT)
codelines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(codelines)

FIXTURE = '''"""Module docstring,
two lines."""

import os  # a trailing comment does not hide the code


# a comment line

class A:
    """Class docstring."""

    x = 1
    """Attribute docstring."""

    def f(self, y):
        """Function
        docstring."""
        s = """a multi-line
        code string"""
        return os.path.join(s,
                            y)
'''


def test_counts_code_and_skips_comments_docstrings_and_blanks():
    # counted: import, class, x = 1, def, s = (2 lines), return (2 lines)
    assert codelines.count_code_lines(FIXTURE) == 8


def test_a_string_inside_an_expression_is_code():
    assert codelines.count_code_lines('x = (\n    "a"\n    "b"\n)\n') == 4
    assert codelines.count_code_lines('f("a")\n"doc"\n') == 1


def test_main_prints_per_file_counts_and_a_total(tmp_path, capsys):
    (tmp_path / "a.py").write_text(FIXTURE)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.py").write_text("y = 2\n")
    (tmp_path / "notes.txt").write_text("x = 1\n")
    assert codelines.main([str(tmp_path)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == [
        f"8 {tmp_path / 'a.py'}",
        f"1 {tmp_path / 'sub' / 'b.py'}",
        "9 total",
    ]
