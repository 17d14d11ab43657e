"""Small hand-built EMBL corpora that stress the record/block splitter.

Each entry of ``FILES`` maps a relative path to the raw (uncompressed)
bytes of one flat file; every file isolates one hazard:

* ``crlf`` / ``cr`` — CRLF and lone-CR line endings (the reference reads
  in universal-newline mode, so both collapse to ``\\n``);
* ``no_eol`` — the last CDS block ends at EOF without a newline;
* ``preamble`` — lines before the first ``ID`` line, including a feature
  start that still advances the file's block counter;
* ``preamble_ft`` — a file whose very first line is a feature start;
* ``late_oc`` — a voiding ``OC`` line after the record's FT lines;
* ``odd_ft`` — FT lines that are neither a feature start nor a
  qualifier continuation (``FT   /x``, ``FT   *``, bare ``FT   ``);
* ``head_slash`` — a ``/`` on the CDS head line itself;
* ``unicode`` — U+0085, U+2028 and VT inside FT lines: none of them ends
  a line for the line split, though Java's ``(?m)`` anchors treat the
  first two as line terminators;
* ``zero_cds`` — records with no CDS block at all;
* ``empty`` — a zero-byte file.
"""

ID = "ID   {}; SV 1; {}; genomic DNA; WGS; PRO; {} BP."
CONT = "FT                   "


def _text(*lines: str, eol: str = "\n", final: bool = True) -> bytes:
    return (eol.join(lines) + (eol if final else "")).encode("utf-8")


_BASIC = [
    ID.format("CR0001", "linear", 900),
    "OC   Bacteria; lineage.",
    "FT   source          1..900",
    "FT   CDS             join(10..20,",
    "FT                   30..40)",
    CONT + '/protein_id="PA.1"',
    CONT + '/translation="MKV',
    CONT + 'AAA"',
    ID.format("CR0002", "circular", 100),
    "FT   CDS             complement(join(90..100,1..5))",
    CONT + '/db_xref="UniProtKB/TrEMBL:Q0CR02"',
]

FILES = {
    "wgs/adv/crlf.dat.gz": _text(*_BASIC, eol="\r\n"),
    "wgs/adv/cr.dat.gz": _text(*_BASIC, eol="\r"),
    "wgs/adv/no_eol.dat.gz": _text(
        ID.format("EOL0001", "linear", 500),
        "FT   CDS             5..50",
        CONT + '/protein_id="PB.1"',
        final=False,
    ),
    "wgs/adv/preamble.dat.gz": _text(
        "CC   written before the first entry",
        "FT   CDS             1..10",
        CONT + '/protein_id="PRE.1"',
        "OC   Eukaryota; Metazoa.",
        ID.format("PRE0001", "linear", 300),
        "FT   gene            1..30",
        "FT   CDS             1..30",
        CONT + '/protein_id="PC.1"',
        "FT   CDS             44",
        CONT + '/protein_id="PD.1"',
    ),
    "wgs/adv/preamble_ft.dat.gz": _text(
        "FT   gene            1..5",
        ID.format("PREFT0001", "circular", 50),
        "FT   CDS             7",
        "FT   CDS             join(45..50,1..3)",
        CONT + '/db_xref="UniProtKB/TrEMBL:Q0PFT1"',
    ),
    "wgs/adv/late_oc.dat.gz": _text(
        ID.format("LATE0001", "linear", 400),
        "OC   Bacteria; lineage.",
        "FT   CDS             10..90",
        CONT + '/protein_id="PA.1"',
        "XX",
        "SQ   Sequence 400 BP;",
        "OC   Eukaryota; Metazoa; late.",
        "//",
        ID.format("LATE0002", "linear", 400),
        "OC   Eukaryota; Fungi; Dikarya.",
        "FT   CDS             11..91",
        CONT + '/protein_id="PA.1"',
    ),
    "wgs/adv/odd_ft.dat.gz": _text(
        ID.format("ODD0001", "linear", 700),
        "FT   CDS             join(1..10,",
        'FT   /protein_id="NOTCONT.1"',
        "FT   *",
        "FT   ",
        "FT                   20..30)",
        CONT + '/protein_id="PE.1"',
        "FT\t\t\tCDS             40..50",
        CONT + '/db_xref="UniProtKB/Swiss-Prot:P0ODD1"',
        "ID  ODD0002; SV 1; linear; genomic DNA; WGS; PRO; 700 BP.",
        "FT   CDS             60..70",
        CONT + '/protein_id="PA.1"',
    ),
    "wgs/adv/head_slash.dat.gz": _text(
        ID.format("SLASH0001", "linear", 800),
        "FT   CDS             100..200/note",
        "FT                   300..400",
        CONT + '/protein_id="PF.1"',
        "FT   CDS             /1..5",
        CONT + '/protein_id="PG.1"',
    ),
    "wgs/adv/unicode.dat.gz": _text(
        ID.format("UNI0001", "linear", 600),
        "FT   CDS             join(1..10,\u008520..30)",
        CONT + '/note="a\u2028FT                   /protein_id="FAKE.1""',
        CONT + '/note="b\u0085ID   FAKE0001; SV 1; linear; x; y; z; 9 BP."',
        CONT + '\x0b/protein_id="PH.1"',
        "FT   CDS             40..50\x0b60..70",
        CONT + '/db_xref="UniProtKB/TrEMBL:Q0UNI1"\u2028',
        "OC   Eukaryota\u2028 Fungi",
    ),
    "wgs/adv/zero_cds.dat.gz": _text(
        ID.format("ZERO0001", "linear", 100),
        "OC   Bacteria; lineage.",
        "FT   source          1..100",
        CONT + '/protein_id="PZ.1"',
        ID.format("ZERO0002", "linear", 100),
        ID.format("ZERO0003", "linear", 100),
        "FT   CDS             1..9",
        CONT + '/protein_id="PA.1"',
    ),
    "wgs/adv/empty.dat.gz": b"",
}

IDMAPPING = [
    ("PA.1", "UA"),
    ("PB.1", "UB"),
    ("PC.1", "UC"),
    ("PD.1", "UD"),
    ("PE.1", "UE"),
    ("PF.1", "UF"),
    ("PG.1", "UG"),
    ("PH.1", "UH"),
    ("PZ.1", "UZ"),
    ("PRE.1", "UPRE"),
    ("NOTCONT.1", "UNOT"),
    ("FAKE.1", "UFAKE"),
]
