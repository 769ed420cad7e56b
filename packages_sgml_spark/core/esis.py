"""ESIS-style event dump — the debug/golden format of the reference's
standalone `sgml` CLI (/root/reference/sgml.c:194-281,378-465):

    Aname TYPE VALUE   attribute (before its element's open)
    (TAG               open element
    )TAG               close element
    -data              character data (\\n escaped as \\\\n)
    Sdata / Ndata      SDATA / NDATA entity data
    ?pi                processing instruction
    C                  appended on conforming completion

Useful as a second cross-check oracle: two parsers agreeing on the
ESIS stream agree on the parse.
"""

from . import dtd as D
from .parser import SGMLParser, ParserOptions

_TYPE_NAMES = {
    D.AT_CDATA: "CDATA", D.AT_ENTITY: "ENTITY", D.AT_ENTITIES: "ENTITIES",
    D.AT_ID: "ID", D.AT_IDREF: "IDREF", D.AT_IDREFS: "IDREFS",
    D.AT_NAME: "NAME", D.AT_NAMES: "NAMES", D.AT_NAMEOF: "NAME",
    D.AT_NMTOKEN: "NMTOKEN", D.AT_NMTOKENS: "NMTOKENS",
    D.AT_NOTATION: "NOTATION", D.AT_NUMBER: "NUMBER",
    D.AT_NUMBERS: "NUMBERS", D.AT_NUTOKEN: "NUTOKEN",
    D.AT_NUTOKENS: "NUTOKENS",
}


def _escape(s):
    return (s.replace("\\", "\\\\").replace("\n", "\\n")
             .replace("\t", "\\t"))


class ESISParser(SGMLParser):
    """Parser whose event sink records ESIS lines instead of a DOM."""

    def __init__(self, options=None):
        super().__init__(options)
        self.lines = []

    def _emit_begin(self, e, atts):
        for a, v in atts:
            tn = _TYPE_NAMES.get(a.type, "CDATA")
            if isinstance(v, list):
                val = " ".join(_escape(str(x)) for x in v)
            elif v is None:
                val = "0" if a.type == D.AT_NUMBER else ""
            else:
                val = _escape(str(v))
            self.lines.append("A%s %s %s" % (a.name, tn, val))
        self.lines.append("(%s" % e.name)

    def ev_end(self, name):
        self.lines.append(")%s" % name)

    def ev_data(self, kind, text):
        c = {"cdata": "-", "sdata": "S", "ndata": "N"}[kind]
        self.lines.append(c + _escape(text))

    def ev_pi(self, text):
        self.lines.append("?" + _escape(text))

    def dump(self, data) -> str:
        """Parse `data` and return its ESIS event stream as text;
        appends 'C' on an error-free parse (conforming), like the
        reference CLI."""
        _dom, errors = self.parse(data)
        lines = list(self.lines)
        if not any(e.severity == "error" for e in errors):
            lines.append("C")
        return "\n".join(lines) + "\n"


def esis_dump(data, dialect="sgml", **kw) -> str:
    """ESISParser.dump with ParserOptions(dialect=dialect, **kw)."""
    return ESISParser(ParserOptions(dialect=dialect, **kw)).dump(data)
