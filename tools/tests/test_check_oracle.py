"""check_oracle.py --against: an oracle refactor that keeps every result
passes, one that changes a result fails.

Run from the checkout root: python3 -m unittest discover -s tools/tests
"""
import os, sys, unittest
import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from check_oracle import check_against


class CheckAgainstTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE documents AS SELECT range AS doc_id, "
                         "'w' || CAST(range % 3 AS VARCHAR) AS text "
                         "FROM range(12)")
        self.old = {
            "q_same": "SELECT doc_id FROM documents",
            "q_cte": """WITH c AS (SELECT text, COUNT(*) AS n
                        FROM documents GROUP BY text)
                        SELECT text, n FROM c""",
        }

    def test_equivalent_texts_pass(self):
        new = dict(self.old, q_cte="""SELECT text, COUNT(*) AS n
            FROM documents GROUP BY ALL ORDER BY n DESC""")
        n, failures = check_against(self.con, new, self.old)
        self.assertEqual((n, failures), (1, []))

    def test_different_results_fail(self):
        new = dict(self.old, q_cte="""SELECT text, COUNT(*) AS n
            FROM documents WHERE doc_id > 0 GROUP BY text""")
        n, failures = check_against(self.con, new, self.old)
        self.assertEqual(n, 1)
        self.assertEqual([k for k, _ in failures], ["q_cte"])

    def test_widened_type_fails(self):
        new = dict(self.old, q_same="SELECT SUM(doc_id) AS doc_id "
                                    "FROM documents GROUP BY doc_id")
        _, failures = check_against(self.con, new, self.old)
        self.assertEqual([k for k, _ in failures], ["q_same"])
        self.assertIn("TYPE-KIND", failures[0][1])

    def test_oracle_error_and_missing_key_fail(self):
        new = {"q_same": "SELECT doc_id FROM no_such_table"}
        _, failures = check_against(self.con, new, self.old)
        self.assertEqual(sorted(k for k, _ in failures), ["q_cte", "q_same"])


if __name__ == "__main__":
    unittest.main()
