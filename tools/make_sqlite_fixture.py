#!/usr/bin/env python3
"""Write the in-repo sqlite fixture read by graft.sources.SqliteInRepoSpec.

    python3 tools/make_sqlite_fixture.py src/test/resources/sqlite/samples-predict.sqlite

Uses only the standard library's sqlite3 module. The rows follow closed-form
rules that the spec recomputes, so the spec checks every value it reads.
The file covers what graft.sources.Sqlite must decode: an interior table
b-tree page over several leaves, an overflow-page chain, every integer width,
the 0/1 constants, REAL values (an integral one stored as an integer), NULL,
multi-byte UTF-8 text, a BLOB and an INTEGER PRIMARY KEY rowid alias.
"""
import os
import sqlite3
import sys

ROWS = 60
LONG_ROW = 17  # its text_a spills into an overflow-page chain
NULL_ROW = 23  # its text_a is NULL
INTS = [0, 1, -1, 127, 128, -129, 40000, 2 ** 31, -(2 ** 40), 2 ** 62]


def text_a(i):
    if i == NULL_ROW:
        return None
    if i == LONG_ROW:
        return "".join(chr(ord("a") + k % 26) for k in range(10000))
    return f"doc {i}: " + "слово " * (i % 5) + ("😀 ｚ" if i % 7 == 0 else "") + "end"


def score(i):
    return i / 4 - 3  # integral on every fourth row: stored as an integer


def label(i):
    return i % 3  # 0 = neu (col_0), 1 = pos (col_1), 2 = neg (col_2)


def main(path):
    if os.path.exists(path):
        os.remove(path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE contents (id INTEGER, doc_id TEXT, text_a TEXT, "
                "s_ind INTEGER, score REAL, entities TEXT)")
    con.execute("CREATE TABLE predict (id INTEGER PRIMARY KEY, col_0 INTEGER, "
                "col_1 INTEGER, col_2 INTEGER, tag BLOB)")
    con.executemany("INSERT INTO contents VALUES (?, ?, ?, ?, ?, ?)", [
        (i, f"d{i // 10}", text_a(i), INTS[i % len(INTS)], score(i), f"e{i},e{i + 1}")
        for i in range(ROWS)])
    # predictions for the rows whose id is not a multiple of 4
    con.executemany("INSERT INTO predict VALUES (?, ?, ?, ?, ?)", [
        (i, int(label(i) == 0), int(label(i) == 1), int(label(i) == 2), f"tag-{i}".encode())
        for i in range(ROWS) if i % 4 != 0])
    con.commit()
    con.close()


if __name__ == "__main__":
    main(sys.argv[1])
