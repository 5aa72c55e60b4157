"""Pure-Python extraction cores + pure-column expression helpers.

htmltext, segment and nlp each expose a pure-Python deterministic core,
run by the extraction stage inside its ``mapInArrow`` page batches
(operators/extract.py) and by the single-node golden-fixture oracle in
tests (SURVEY.md §5.2); textstats holds Column expressions. No module
here imports pandas.
"""
