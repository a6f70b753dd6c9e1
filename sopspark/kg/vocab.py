"""Shared vocabulary for the transcript→KG pipeline."""

EX = "http://example.org/"
FOAF = "http://xmlns.com/foaf/0.1/"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"

KNOWS = FOAF + "knows"
WORKS_AT = EX + "vocab/worksAt"
LIVES_IN = EX + "vocab/livesIn"
AGE = EX + "vocab/age"
SAME_AS = OWL + "sameAs"

PERSON_NS = EX + "person/"
ORG_NS = EX + "org/"
PLACE_NS = EX + "place/"
CONV_NS = EX + "conv/"
