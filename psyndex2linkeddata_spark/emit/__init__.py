"""Triple emitters (SURVEY.md §2.6 N1-N20): record → triples.

emit/arrow.py is the record→triples emitter of build_triples: one
Arrow-batched mapInArrow stage that parses, emits and links each record
in Python, the way the reference's per-record `graph.add` calls do
(reference convert_starxml_to_bf.py:1176-1503). emit/normalize.py parses
the mention columns the offline-linking resolution maps join on. The
sub-converters (journals, psychauthors, reduced persons) are Column
expressions over the primitives in emit/base.py.
"""
