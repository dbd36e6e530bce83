"""tools/code_lines.py counts code lines as the simplicity review does:
docstrings, comments and blank lines are not code."""

from tools.code_lines import code_lines

SOURCE = '''"""Module docstring,
over two lines."""

import os  # a trailing comment leaves the line a code line


# a comment line
class Box:
    """Class docstring."""

    def path(self, x):
        """Function docstring."""
        return os.path.join(x,
                            "y")
'''


def test_code_lines_skip_docstrings_comments_and_blanks():
    # import, class, def, and the two-line return
    assert code_lines(SOURCE) == 5
