"""Triple-extraction patterns (H1-H4).

The Spark operators in ``operators.triples`` run these patterns JVM-side via
``regexp_extract_all`` (whole-stage codegen; no Python in the hot path).

Predicates (BASELINE.json north_star):
  links_to          [text](url) markdown links (from F1/G8, markdown.go:420-426)
  contains_heading  ATX headings ``#{1,6} `` (markdown_test.go:27-31,725)
  has_attachment    non-HTML MIME parts + attachment URL refs
                    (/download/attachments/... — markdown_test.go:338)
  authored_by       confluence-userlink mentions (markdown_test.go:949-963)
"""

from __future__ import annotations

# Java and Python regex dialects agree on these patterns.
MD_LINK_PATTERN = r"\[([^\]]*)\]\(([^)]+)\)"
HEADING_PATTERN = r"(?m)^(#{1,6}) (.+)$"
MD_IMAGE_PATTERN = r"!\[([^\]]*)\]\(([^)]+)\)"
ATTACHMENT_URL_PATTERN = r"/download/attachments/(\d+)/([^)\"?\s]+)"
# Confluence page URL: /wiki/spaces/{space}/pages/{id}/{title}
PAGE_URL_PATTERN = r"/wiki/spaces/([^/\s]+)/pages/(\d+)/([^)\s?#]+)"
